r"""`doc_fingerprints` normalizes whitespace with an explicit class on
both engines:

  1. the registered pair is oracle-parity green at both local scales;
  2. on a planted-\x0B corpus a bare-``\s`` pair diverges (Java \s
     collapses vertical tab, RE2 \s does not — the regex audit's
     premise) while the registered pair agrees.
"""

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq

_BARE_S_ORACLE = r"""
    SELECT doc_id,
           substring(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 16) AS fp
    FROM documents ORDER BY doc_id
    """


def _bare_s_fingerprints(spark, sf_dir):
    from pyspark.sql import functions as F

    from real_estate_etl_dev_spark.sources.readers import load_table

    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring(F.md5(norm.cast("binary")), 1, 16).alias("fp")
    ).orderBy("doc_id")


def _vtab_corpus(tmp_path):
    """documents table where half the docs carry a vertical tab
    between words — the code point Java \\s and RE2 \\s disagree on."""
    from real_estate_etl_dev_spark.sources.readers import TABLES

    from tests.conftest import SF_SMALL

    rows = {}
    for i in range(20):
        sep = "\x0b" if i % 2 == 0 else " "
        rows[i] = f"alpha{sep}beta  gamma{i}"
    tbl = pa.table(
        {
            "doc_id": pa.array(sorted(rows), type=pa.int64()),
            "text": pa.array([rows[i] for i in sorted(rows)]),
            "lang": pa.array(["en"] * len(rows)),
            "source": pa.array(["synthetic"] * len(rows)),
            "n_chars": pa.array(
                [len(rows[i]) for i in sorted(rows)], type=pa.int64()
            ),
        }
    )
    d = str(tmp_path / "vtab")
    os.makedirs(d, exist_ok=True)
    pq.write_table(tbl, f"{d}/documents.parquet")
    for name in TABLES:
        if name != "documents":
            os.symlink(f"{SF_SMALL}/{name}.parquet", f"{d}/{name}.parquet")
    return d


def test_doc_fingerprints_parity_both_scales(spark, sf_dir, oracle_sf_dir):
    from real_estate_etl_dev_spark.plans.catalog import CATALOG

    from tests.oracle_harness import compare

    q = CATALOG["doc_fingerprints"]
    for d in (sf_dir, oracle_sf_dir):
        problems = compare(spark, d, q.fn, q.oracle)
        assert not problems, f"{d}: " + "; ".join(problems)


def test_bare_s_diverges_registered_agrees_on_vtab(spark, tmp_path):
    from real_estate_etl_dev_spark.plans.catalog import CATALOG

    from tests.oracle_harness import compare

    d = _vtab_corpus(tmp_path)
    assert compare(spark, d, _bare_s_fingerprints, _BARE_S_ORACLE), (
        "expected a bare-\\s pair to diverge on \\x0B input (the audit "
        "premise) — it no longer does; re-check the regex audit"
    )
    q = CATALOG["doc_fingerprints"]
    problems = compare(spark, d, q.fn, q.oracle)
    assert not problems, "; ".join(problems)
    # the registered fingerprints actually collapse the vertical tab:
    # a \x0B doc and its space twin must share a fingerprint
    fps = {r["doc_id"]: r["fp"] for r in q.fn(spark, d).collect()}
    assert fps[0] != fps[1]  # different gammaN suffixes
    assert fps[0] == hashlib.md5(b"alpha beta gamma0").hexdigest()[:16]
