"""Wave 43: lexical-diversity scoring + code-vs-prose detection +
markdown structure triage.

Independent evidence beyond the DuckDB oracles: pure-Python replays of
each metric over the real sf0.001 documents corpus, plus crafted corpora
that force every branch of the routing predicates."""

import math
import re
from collections import Counter

import pyarrow.parquet as pq

from readability_1_spark.queries import (
    CODE_KEYWORDS,
    code_detect_frame,
    lexical_diversity_frame,
    markdown_frame,
    q_code_detect,
    q_lexical_diversity,
    q_markdown_structure_stats,
)

from .replicas import _toks

SF = "/root/testdata/sf0.001"


# ----------------------------------------------------- lexical diversity

def test_lexical_diversity_replica_on_corpus(spark):
    docs = pq.read_table(
        f"{SF}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    got = {
        r["doc_id"]: r.asDict()
        for r in q_lexical_diversity(spark, SF).collect()
    }
    assert len(got) == len(docs)
    for d in docs:
        tf = Counter(_toks(d["text"]))
        n_tok = sum(tf.values())
        n_typ = len(tf)
        n_hap = sum(1 for v in tf.values() if v == 1)
        r = got[d["doc_id"]]
        assert r["n_tokens"] == n_tok
        assert r["n_types"] == n_typ
        assert r["n_hapax"] == n_hap
        if n_tok > 0:
            assert r["ttr"] == round(n_typ / n_tok, 6)
            assert r["root_ttr"] == round(n_typ / math.sqrt(n_tok), 6)
        if n_tok > 1:
            assert r["herdan_c"] == round(
                math.log(n_typ) / math.log(n_tok), 6
            )
        if n_typ > 0:
            assert r["hapax_ratio"] == round(n_hap / n_typ, 6)


def test_lexical_diversity_edge_docs(spark):
    df = spark.createDataFrame(
        [
            (1, ""),                      # empty -> all zeros
            (2, "word"),                  # single token: ttr 1, herdan 0
            (3, "a a a a a a a a"),       # repeated: low ttr, no hapax
            (4, "one two three four"),    # all-distinct: ttr 1, hapax 1
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r.asDict() for r in lexical_diversity_frame(df).collect()}
    assert got[1]["n_tokens"] == 0 and got[1]["ttr"] == 0.0
    assert got[1]["root_ttr"] == 0.0 and got[1]["hapax_ratio"] == 0.0
    assert got[2]["n_tokens"] == 1 and got[2]["ttr"] == 1.0
    assert got[2]["herdan_c"] == 0.0  # n_tokens == 1 guard (ln 1 = 0 divisor)
    assert got[3]["n_types"] == 1 and got[3]["n_hapax"] == 0
    assert got[3]["ttr"] == 0.125 and got[3]["hapax_ratio"] == 0.0
    assert got[4]["ttr"] == 1.0 and got[4]["hapax_ratio"] == 1.0
    # keyword-stuffing signature: doc 3 scores far below doc 4 on root TTR
    assert got[3]["root_ttr"] < got[4]["root_ttr"]


# ------------------------------------------------------- code detection

def test_code_detect_replica_on_corpus(spark):
    docs = pq.read_table(
        f"{SF}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    got = {
        r["doc_id"]: r.asDict() for r in q_code_detect(spark, SF).collect()
    }
    assert len(got) == len(docs)
    camel = re.compile(r"[a-z][a-z0-9]*[A-Z][A-Za-z0-9]*")
    for d in docs:
        t = d["text"]
        r = got[d["doc_id"]]
        assert r["n_chars"] == len(t)
        assert r["brace_semi_count"] == (
            t.count("{") + t.count("}") + t.count(";")
        )
        assert r["keyword_hits"] == sum(t.count(k) for k in CODE_KEYWORDS)
        lines = t.split("\n")
        assert r["n_lines"] == len(lines)
        assert r["indented_lines"] == sum(
            1 for ln in lines if ln.startswith(("    ", "\t"))
        )
        assert r["camel_tokens"] == len(camel.findall(t))
        dens = (
            round(r["brace_semi_count"] * 1000 / len(t), 6) if t else 0.0
        )
        assert r["brace_density_permille"] == dens
        assert r["code_suspect"] == (
            dens >= 20
            or r["keyword_hits"] >= 3
            or (len(lines) >= 5 and r["indented_lines"] * 2 >= len(lines))
        )


def test_code_detect_routes_code_not_prose(spark):
    code = (
        "def add(a, b):\n    return a + b\n\n"
        "import os\n\n"
        "def mul(a, b):\n    return a * b\n"
    )
    js = "const x = 1; var y = 2; function f() { return x; }\n" * 3
    prose = (
        "The quiet morning light settled over the harbour while the "
        "fishermen prepared their nets, and nothing about the scene "
        "suggested code of any kind.\n"
    ) * 4
    df = spark.createDataFrame(
        [(1, code), (2, js), (3, prose)], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r.asDict() for r in code_detect_frame(df).collect()}
    assert got[1]["code_suspect"]       # keyword + indentation path
    assert got[2]["code_suspect"]       # brace/semicolon density path
    assert not got[3]["code_suspect"]
    assert got[1]["keyword_hits"] >= 3
    assert got[2]["brace_density_permille"] >= 20


# ---------------------------------------------------- markdown structure

def test_markdown_replica_on_corpus(spark):
    docs = pq.read_table(
        f"{SF}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    got = {
        r["doc_id"]: r.asDict()
        for r in q_markdown_structure_stats(spark, SF).collect()
    }
    assert len(got) == len(docs)
    hdr = re.compile(r"^#{1,6} ")
    link = re.compile(r"\[[^\]]*\]\([^)]*\)")
    tbl = re.compile(r"^\|.*\|")
    for d in docs:
        t = d["text"]
        lines = t.split("\n")
        r = got[d["doc_id"]]
        assert r["header_lines"] == sum(1 for ln in lines if hdr.match(ln))
        assert r["code_blocks"] == t.count("```") // 2
        assert r["md_links"] == len(link.findall(t))
        assert r["table_rows"] == sum(1 for ln in lines if tbl.match(ln))
        assert r["quote_lines"] == sum(
            1 for ln in lines if ln.startswith("> ")
        )
        total = (
            r["header_lines"] + r["code_blocks"] + r["md_links"]
            + r["table_rows"] + r["quote_lines"]
        )
        assert r["is_markdown"] == (total >= 3)


def test_markdown_crafted_doc(spark):
    md = (
        "# Title\n\n## Section\n\n"
        "Some prose with a [link](http://example.com/a) and "
        "[two](http://example.com/b).\n\n"
        "```python\nprint('hi')\n```\n\n"
        "| a | b |\n| - | - |\n| 1 | 2 |\n\n"
        "> quoted line\n"
        "```\nunclosed fence does not count as a block"
    )
    plain = "Just a paragraph. Nothing structured here at all."
    df = spark.createDataFrame([(1, md), (2, plain)], ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in markdown_frame(df).collect()}
    r = got[1]
    assert r["header_lines"] == 2
    assert r["code_blocks"] == 1      # 3 fences -> 1 paired block
    assert r["md_links"] == 2
    assert r["table_rows"] == 3
    assert r["quote_lines"] == 1
    assert r["is_markdown"]
    p = got[2]
    assert not p["is_markdown"]
    assert (
        p["header_lines"] + p["code_blocks"] + p["md_links"]
        + p["table_rows"] + p["quote_lines"]
    ) == 0
