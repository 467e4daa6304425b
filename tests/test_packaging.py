"""Packaging: the --py-files zip must be importable standalone."""

import os
import subprocess
import sys


def test_pyfiles_zip_importable(tmp_path):
    from readability_1_spark.pipeline import build_pyfiles_zip

    zip_path = build_pyfiles_zip(str(tmp_path))
    code = (
        "import sys; sys.path.insert(0, %r); "
        "from readability_1_spark import extract_one; "
        "r = extract_one('<html><head><title>T</title></head>"
        "<body><p>hi</p></body></html>'); "
        "print(r['status'])" % zip_path
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd="/tmp"
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() in ("ok", "null_result")


def test_package_pyfiles_cli_writes_given_zip(tmp_path):
    """The CLI writes the zip to the path it is given and prints it."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = str(tmp_path / "pkg.zip")
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "package_pyfiles.py"), zip_path],
        capture_output=True, text=True, cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.splitlines()[0] == f"built {zip_path}"
    assert os.listdir(tmp_path) == ["pkg.zip"]
    code = (
        "import sys; sys.path.insert(0, %r); "
        "from readability_1_spark import extract_one; "
        "print(extract_one('<html><body><p>hi</p></body></html>')['status'])" % zip_path
    )
    imp = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd="/tmp"
    )
    assert imp.returncode == 0, imp.stderr
    assert imp.stdout.strip() in ("ok", "null_result")


def test_spark_submit_end_to_end(tmp_path, spark):
    """The north rule's deployment shape, literally: spark-submit
    --py-files <zip> jobs/extract_job.py over a parquet transcripts table,
    then assert the job wrote extractions + lineage + checkpoints."""
    import shutil

    from readability_1_spark.pipeline import build_pyfiles_zip

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pyspark

        spark_submit = os.path.join(
            os.path.dirname(pyspark.__file__), "bin", "spark-submit"
        )
    # Small input: the committed smoke transcripts (first 40 rows).
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "wh")
    smoke = spark.read.parquet(os.path.join(repo, "tests", "goldens",
                                            "transcripts_smoke.parquet"))
    smoke.limit(40).coalesce(1).write.parquet(in_dir)

    zip_path = build_pyfiles_zip(str(tmp_path))
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    out = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--py-files", zip_path,
         os.path.join(repo, "jobs", "extract_job.py"),
         "--input", in_dir, "--output", out_dir,
         "--run-id", "submitrun", "--num-parts", "8"],
        capture_output=True, text=True, timeout=420, env=env, cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "run_id=submitrun" in out.stdout
    ex = spark.read.parquet(os.path.join(out_dir, "extractions"))
    assert ex.filter(ex.status == "ok").count() > 0
    ck = spark.read.parquet(os.path.join(out_dir, "checkpoints"))
    assert ck.filter(ck.run_id == "submitrun").count() > 0
    assert spark.read.parquet(os.path.join(out_dir, "lineage")).count() > 0


def test_spark_submit_tokenize_job(tmp_path, spark):
    """Tokenized-shards deployment shape: spark-submit --py-files <zip>
    jobs/tokenize_job.py over a documents table writes per-doc token ids,
    packed fixed-length sequences, and the vocabulary; the packed stream
    reassembles to the per-doc ids + EOS boundaries exactly."""
    import shutil

    from readability_1_spark.pipeline import build_pyfiles_zip

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pyspark

        spark_submit = os.path.join(
            os.path.dirname(pyspark.__file__), "bin", "spark-submit"
        )
    out_dir = str(tmp_path / "tok")
    zip_path = build_pyfiles_zip(str(tmp_path))
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    out = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--py-files", zip_path,
         os.path.join(repo, "jobs", "tokenize_job.py"),
         "--sf-dir", "/root/testdata/sf0.001", "--output", out_dir,
         "--seq-len", "64", "--n-ranges", "8", "--shards", "4"],
        capture_output=True, text=True, timeout=420, env=env, cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "tokenize_job: docs=" in out.stdout
    ids = spark.read.parquet(out_dir + "/token_ids")
    seqs = spark.read.parquet(out_dir + "/sequences")
    vocab = spark.read.parquet(out_dir + "/vocab")
    eos = vocab.filter(vocab.sym == "<EOS>").collect()[0].id
    # reassembly invariant across the job boundary
    doc_rows = sorted((r.doc_id, list(r.token_ids)) for r in ids.collect())
    stream = [t for _d, tids in doc_rows for t in tids + [eos]]
    packed = sorted((r.seq_id, list(r.token_ids)) for r in seqs.collect())
    flat = [t for _s, tids in packed for t in tids]
    assert flat == stream
    assert all(len(tids) == 64 for _s, tids in packed[:-1])
    # every id is inside the vocabulary (incl. EOS)
    assert max(flat) <= eos and min(flat) >= 0


def _write_zip(path, modules):
    import zipfile

    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(name + ".py", source)


def test_zip_invalidate_caches_skips_unchanged_archive(tmp_path, monkeypatch):
    """Several zipimporters on one unchanged archive: invalidating every
    import cache (what pyspark's worker does per task) re-reads nothing."""
    import importlib
    import zipimport

    import readability_1_spark  # noqa: F401  (installs the stat gate)

    archive = str(tmp_path / "pkgs.zip")
    _write_zip(archive, {"r1s_zip_probe_a": "X = 1\n"})
    for sub in ("", "a", "b/c"):
        path = os.path.join(archive, sub) if sub else archive
        monkeypatch.setitem(sys.path_importer_cache, path, zipimport.zipimporter(path))
    reads = []
    orig = zipimport._read_directory

    def counting(archive_path):
        reads.append(archive_path)
        return orig(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert archive not in reads


def test_zip_invalidate_caches_sees_rewritten_archive(tmp_path, monkeypatch):
    import importlib

    import readability_1_spark  # noqa: F401  (installs the stat gate)

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"r1s_zip_probe_b": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("r1s_zip_probe_b", "r1s_zip_probe_c"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import r1s_zip_probe_b  # noqa: F401

    _write_zip(archive, {"r1s_zip_probe_b": "X = 1\n", "r1s_zip_probe_c": "Y = 2\n"})
    importlib.invalidate_caches()
    import r1s_zip_probe_c

    assert r1s_zip_probe_c.Y == 2


def test_zip_stat_gate_is_noop_from_python_313(monkeypatch):
    import types
    import zipimport

    from readability_1_spark import _zipdir

    def invalidate_caches(self):
        pass

    def read_directory(archive):
        pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", invalidate_caches)
    monkeypatch.setattr(zipimport, "_read_directory", read_directory)
    monkeypatch.setattr(_zipdir, "sys", types.SimpleNamespace(version_info=(3, 13, 0)))
    _zipdir.install()
    assert zipimport.zipimporter.invalidate_caches is invalidate_caches
    assert zipimport._read_directory is read_directory


def test_worker_runs_stat_gated_invalidate_caches(spark):
    """A Python worker that ran the extraction kernel has the stat gate."""
    import pyarrow as pa

    from readability_1_spark.kernel import make_extraction_kernel
    from readability_1_spark.pipeline import ensure_worker_imports

    ensure_worker_imports(spark)
    kernel = make_extraction_kernel()

    def probe(batches):
        import zipimport

        for out in kernel(batches):
            method = zipimport.zipimporter.invalidate_caches.__module__
            yield pa.RecordBatch.from_pydict(
                {"status": out.column("status"), "method": [method] * out.num_rows}
            )

    html = "<html><head><title>T</title></head><body><p>hi</p></body></html>"
    df = spark.createDataFrame(
        [("c", 0, html, 0)], "conv_id STRING, turn_idx INT, text STRING, part_id INT"
    )
    rows = df.mapInArrow(probe, "status STRING, method STRING").collect()
    expected = "readability_1_spark._zipdir" if sys.version_info < (3, 13) else "zipimport"
    assert [r.method for r in rows] == [expected]
