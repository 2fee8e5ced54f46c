"""Differential proofs for the text-cleaning operators on corpora the
driver fixture cannot exercise: PII-bearing text (the fixture has none)
and genuinely multi-paragraph documents (fixture texts have no newlines).
Each test writes a synthetic documents.parquet to a temp dir and compares
the registered Spark query against its registered DuckDB oracle there —
the same differential the driver runs, on data that actually bends the
operator.
"""

from __future__ import annotations

import pandas as pd
import pytest

from talkinghead_datapipeline_spark.queries import all_queries
from tests.oracle_harness import compare_frames, duckdb_connection

_SPECS = all_queries()


def _diff_on(spark, tmp_path, name: str, docs: pd.DataFrame):
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = docs.assign(
        source=["synthetic"] * len(docs), n_chars=[len(t) for t in docs["text"]]
    )
    pq.write_table(
        pa.table(docs.astype({"doc_id": "int64", "n_chars": "int64"})),
        f"{tmp_path}/documents.parquet",
    )
    spec = _SPECS[name]
    spark_pdf = spec.spark(spark, str(tmp_path)).toPandas()
    con = duckdb_connection(tmp_path)
    try:
        oracle_pdf = con.execute(spec.oracle).fetchdf()
    finally:
        con.close()
    res = compare_frames(name, spark_pdf, oracle_pdf)
    assert res.ok, str(res)
    return spark_pdf


def test_pii_redact_on_pii_bearing_corpus(spark, tmp_path):
    docs = pd.DataFrame(
        {
            "doc_id": range(6),
            "lang": ["en"] * 6,
            "text": [
                "contact me at jane.doe+spam@example.co.uk or call +4915123456789",
                "server at 192.168.0.1 and 10.0.0.255 responded; fax 555-123-4567",
                "no pii here, just words and numbers 1234567",
                "double email a@b.io c.d@e-f.org and ip 8.8.8.8",
                "+123456 is too short to be a phone; 1.2.3 is not an ip",
                "edge: trailing dot a@b.co. and 999.999.999.999 still matches shape",
            ],
        }
    )
    pdf = _diff_on(spark, tmp_path, "pii_redact_stats", docs)
    by_id = pdf.set_index("doc_id")
    assert by_id.loc[0, "n_emails"] == 1 and by_id.loc[0, "n_phones"] == 1
    assert by_id.loc[1, "n_ips"] == 2 and by_id.loc[1, "n_phones"] == 1
    assert by_id.loc[2, ["n_emails", "n_phones", "n_ips"]].sum() == 0
    assert by_id.loc[3, "n_emails"] == 2 and by_id.loc[3, "n_ips"] == 1
    assert by_id.loc[4, ["n_phones", "n_ips"]].sum() == 0
    assert "|||EMAIL|||" in by_id.loc[0, "text_redacted"]
    assert "jane.doe" not in by_id.loc[0, "text_redacted"]


def test_paragraph_dedup_on_multiparagraph_corpus(spark, tmp_path):
    boiler = "subscribe to our newsletter"
    docs = pd.DataFrame(
        {
            "doc_id": range(4),
            "lang": ["en"] * 4,
            "text": [
                f"unique intro one\n{boiler}\nunique body one",
                f"{boiler}\nunique body two",
                f"unique intro three\n{boiler.upper()}\nunique body three",
                f"{boiler}\n{boiler}",  # all paragraphs duplicated
            ],
        }
    )
    pdf = _diff_on(spark, tmp_path, "paragraph_dedup_stats", docs)
    by_id = pdf.set_index("doc_id")
    # boilerplate survives only at its first occurrence (doc 0, para 1);
    # normalization is case-insensitive, so doc 2's upper-cased copy drops.
    assert by_id.loc[0, "n_dup_paras"] == 0
    assert by_id.loc[1, "n_dup_paras"] == 1
    assert by_id.loc[1, "text_dedup"] == "unique body two"
    assert by_id.loc[2, "n_dup_paras"] == 1
    assert boiler.upper() not in by_id.loc[2, "text_dedup"]
    assert by_id.loc[3, "n_dup_paras"] == 2
    assert by_id.loc[3, "text_dedup"] == ""


def test_gopher_signals_on_repetitive_corpus(spark, tmp_path):
    docs = pd.DataFrame(
        {
            "doc_id": range(3),
            "lang": ["en"] * 3,
            "text": [
                "spam spam spam spam spam eggs",  # heavy bigram repetition
                "all words here are fully distinct tokens",
                "ab cd ef ab cd ef ab cd ef",  # repeated trigram chain
            ],
        }
    )
    pdf = _diff_on(spark, tmp_path, "gopher_repetition_signals", docs)
    by_id = pdf.set_index("doc_id")
    assert by_id.loc[0, "top_bigram"] == "spam spam"
    # floor-ppm outputs (round-9 tie audit migration)
    assert by_id.loc[0, "top_bigram_char_ppm"] / 1e6 == pytest.approx(
        4 * len("spam spam") / len("spam spam spam spam spam eggs"), abs=2e-6
    )
    assert by_id.loc[1, "dup_trigram_char_ppm"] == 0
    assert by_id.loc[2, "dup_trigram_char_ppm"] > 500000
