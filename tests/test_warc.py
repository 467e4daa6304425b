"""WARC source: Common Crawl-shaped input end-to-end into the kernel."""

import gzip

from .conftest import load_source


def test_warc_parse_roundtrip():
    from readability_1_spark.warc import build_warc_bytes, parse_warc_bytes

    pages = [
        ("http://example.com/a", "2026-01-01T00:00:00Z", "<html><p>A</p></html>"),
        ("http://example.com/b", "2026-01-01T00:01:00Z", "<html><p>B</p></html>"),
    ]
    raw = build_warc_bytes(pages)
    for data in (raw, gzip.compress(raw)):
        recs = parse_warc_bytes(data)
        assert len(recs) == 2
        assert all(r["warc_type"] == "response" for r in recs)
        assert recs[0]["http_status"] == 200
        assert recs[0]["payload"] == "<html><p>A</p></html>"
        assert recs[1]["target_uri"] == "http://example.com/b"


def test_warc_garbage_and_truncation():
    from readability_1_spark.warc import build_warc_bytes, parse_warc_bytes

    raw = build_warc_bytes([("http://x/", "2026-01-01T00:00:00Z", "<html>x</html>")])
    assert parse_warc_bytes(b"not a warc at all") == []
    truncated = raw[: len(raw) - 25]
    recs = parse_warc_bytes(b"junk" + raw + truncated)
    # the full record parses; the truncated tail yields at most a partial
    assert recs and recs[0]["payload"] == "<html>x</html>"


def test_warc_to_extraction_end_to_end(spark, tmp_path):
    from pyspark.sql import functions as F

    from readability_1_spark.pipeline import extract_transcripts
    from readability_1_spark.warc import (
        build_warc_bytes,
        read_warc,
        warc_as_transcripts,
    )

    fixture = load_source("001")
    pages = [
        ("http://news.example.com/article-1", "2026-01-01T00:00:00Z", fixture),
        ("http://news.example.com/article-2", "2026-01-01T00:05:00Z",
         "<html><body><p>short</p></body></html>"),
        ("http://other.example.org/x", "2026-01-01T00:02:00Z", fixture),
    ]
    warc_dir = tmp_path / "warc"
    warc_dir.mkdir()
    (warc_dir / "seg-0.warc").write_bytes(build_warc_bytes(pages[:2]))
    (warc_dir / "seg-1.warc.gz").write_bytes(
        gzip.compress(build_warc_bytes(pages[2:]))
    )

    rows = read_warc(spark, str(warc_dir)).collect()
    assert len(rows) == 3
    t = warc_as_transcripts(read_warc(spark, str(warc_dir)))
    trows = {(r.conv_id, r.turn_idx): r for r in t.collect()}
    assert ("conv-news.example.com", 0) in trows
    assert ("conv-news.example.com", 1) in trows
    assert ("conv-other.example.org", 0) in trows
    assert trows[("conv-news.example.com", 0)].text == fixture

    ex = extract_transcripts(t, num_parts=4)
    got = {r.conv_id: r.status for r in ex.collect()}
    # fixture page extracts ok on both hosts; the short page yields a
    # kernel status too (it passed the HTML gate)
    assert got["conv-other.example.org"] == "ok"


def test_jsonl_transcripts_source(spark, tmp_path):
    import json

    from readability_1_spark.pipeline import extract_transcripts
    from readability_1_spark.transcripts import transcripts_from_jsonl

    fixture = load_source("001")
    lines = [
        {"conv_id": "c1", "turn_idx": 0, "role": "user", "text": "hi",
         "tool": None, "ts": "2026-01-01T00:00:00Z"},
        {"conv_id": "c1", "turn_idx": 1, "role": "tool", "text": fixture,
         "tool": "browser", "ts": "2026-01-01T00:00:30Z"},
        {"text": "row with missing keys"},
    ]
    p = tmp_path / "t.jsonl"
    p.write_text("\n".join(json.dumps(x) for x in lines))
    t = transcripts_from_jsonl(spark, str(p))
    rows = t.collect()
    assert len(rows) == 3
    assert {r.conv_id for r in rows} == {"c1", "conv-unknown"}
    ex = {r.conv_id: r.status for r in extract_transcripts(t, num_parts=2).collect()}
    assert ex == {"c1": "ok"}


def test_warc_to_curated_corpus(spark, tmp_path):
    """The whole 100 TB story in one test: crawl archive segments ->
    transcripts -> payload-dedup extraction -> content dedup -> quality
    gates -> curated corpus with stats."""
    from readability_1_spark.pretrain import run_pretrain_job
    from readability_1_spark.warc import build_warc_bytes, read_warc, warc_as_transcripts

    fixture = load_source("001")
    pages = [
        ("http://a.example.com/post", "2026-01-01T00:00:00Z", fixture),
        ("http://b.example.com/mirror", "2026-01-01T01:00:00Z", fixture),  # dup
        ("http://a.example.com/stub", "2026-01-01T02:00:00Z",
         "<html><body><p>too short</p></body></html>"),
    ]
    warc_dir = tmp_path / "crawl"
    warc_dir.mkdir()
    (warc_dir / "seg.warc").write_bytes(build_warc_bytes(pages))

    transcripts = warc_as_transcripts(read_warc(spark, str(warc_dir)))
    stats = run_pretrain_job(spark, transcripts, str(tmp_path / "out"), num_parts=4)
    curated = spark.read.parquet(str(tmp_path / "out" / "curated")).collect()
    # the mirrored page dedups to one curated doc; the stub fails the gates
    assert stats["n_docs"] == 1 and len(curated) == 1
    assert curated[0].n_tokens > 80
