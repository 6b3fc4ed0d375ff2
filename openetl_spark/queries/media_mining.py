"""multimodal near-dup mining with full oracles (r06).

Split out of the monolithic catalog.py (r06, VERDICT r05 #6) —
importing this module REGISTERS its queries into the shared
QUERIES/ORACLE registries (openetl_spark.queries.base). Query names,
oracles, and iteration order are byte-identical to the pre-split
catalog; openetl_spark.catalog re-exports the full public surface.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from openetl_spark.operators import curation as C
from openetl_spark.operators import dedup as D
from openetl_spark.operators import joins as J
from openetl_spark.operators import similarity as S
from openetl_spark.operators import text as X
from openetl_spark.operators import timeseries as TS
from openetl_spark.plans.compiler import compile_connector
from openetl_spark.queries.base import ORACLE, QUERIES, _repo_root, load, query
from openetl_spark.spec import Connector, Filter, FilterGroup, Sort, Transformation

# ---------------------------------------------------------------------
# Multimodal near-dup mining with a FULL oracle (r06, VERDICT #3). The
# TESTDATA tables carry no binary media, so the corpus is the
# deterministic synthetic one from operators/media_synth (byte-identical
# every run; near-dup structure constructed to exact hamming distances).
# The REAL decoders fingerprint it once and persist (path, fp) to a
# repo-local parquet — written on the Spark side of the compare, the
# same materialization contract as the IVF centroid cache — and DuckDB
# re-derives the whole candidates → hamming → pairs pipeline from that
# relation. Only the Python decode step stays test-pinned
# (tests/test_operators.py pins decoder output against driver-side
# recomputation and corrupt-payload NULL behavior).
# ---------------------------------------------------------------------

MEDIA_FP_DIR = f"{_repo_root()}/spark-warehouse/media_fp"


def _media_fp_layout(spark, kind: str) -> str:
    """Get-or-build the persisted fingerprint relation for the synthetic
    media corpus: decode + perceptual-hash via the production mapInPandas
    path, persist (path, fp BIGINT; NULL = undecodable) as one parquet
    file the static oracle can read_parquet."""
    import os

    path = os.path.join(MEDIA_FP_DIR, f"{kind}_v3.parquet")
    if not os.path.exists(path):
        from openetl_spark.operators import media_synth as MS
        from openetl_spark.operators import multimodal as M

        if kind == "image":
            rows = MS.synthetic_image_corpus()
            df = spark.createDataFrame(
                [(p, bytearray(b)) for p, b in rows], "path string, content binary"
            )
            fp = M.with_image_ahash(df).select("path", F.col("ahash").alias("fp"))
        else:
            rows = MS.synthetic_audio_corpus()
            df = spark.createDataFrame(
                [(p, bytearray(b)) for p, b in rows], "path string, content binary"
            )
            fp = M.with_audio_fingerprint(df).select("path", F.col("afp").alias("fp"))
        # collect() and build the Arrow table from exact Python ints —
        # NOT toPandas(): the undecodable row's NULL upcasts the column
        # to float64, which silently rounds 64-bit fingerprints (they
        # exceed 2^53) before any recast can recover them
        rows_fp = fp.collect()
        os.makedirs(MEDIA_FP_DIR, exist_ok=True)
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table(
            {
                "path": pa.array([r["path"] for r in rows_fp], type=pa.string()),
                "fp": pa.array([r["fp"] for r in rows_fp], type=pa.int64()),
            }
        )
        tmp = path + ".tmp"
        pq.write_table(table, tmp)
        os.replace(tmp, path)
    return path


def _media_mine_oracle(kind: str, max_hamming: int) -> str:
    return f"""
    WITH fp AS (
      SELECT path, fp
      FROM read_parquet('{MEDIA_FP_DIR}/{kind}_v3.parquet')
      WHERE fp IS NOT NULL)
    SELECT a.path AS a, b.path AS b,
           CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.path < b.path
    WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
    """


@query("image_near_duplicates", _media_mine_oracle("image", 6))
def q_image_near_duplicates(spark, sf_dir):
    """C95 (r06): perceptual image near-dup mining with a FULL oracle —
    real stdlib PNG decode → 64-bit aHash → pigeonhole hamming ≤ 6
    pairs, end-to-end through the production operator. Corpus: 10
    groups of {base PNG, baseline-JPEG re-encode of the base (decoded
    by the real r06 JPEG decoder, aHash-identical — the cross-codec
    duplicate case), a successive-approximation progressive re-encode
    (multi-scan decode path), 1-bit, 2-bit, 9-bit-outlier} + one undecodable
    header-only JPEG (must drop via NULL hash, not abort). The oracle
    re-derives mining from the persisted fingerprints, so recall
    completeness of the chunk equi-join and the hamming arithmetic are
    both checked; the 9-bit outliers pin that out-of-budget pairs stay
    out. sf_dir is unused by design — TESTDATA has no binary media."""
    from openetl_spark.operators import media_synth as MS
    from openetl_spark.operators import multimodal as M

    _media_fp_layout(spark, "image")  # materialize the oracle relation
    rows = MS.synthetic_image_corpus()
    df = spark.createDataFrame(
        [(p, bytearray(b)) for p, b in rows], "path string, content binary"
    )
    return M.image_near_duplicates(df, max_hamming=6)


@query("audio_near_duplicates", _media_mine_oracle("audio", 6))
def q_audio_near_duplicates(spark, sf_dir):
    """C96 (r06): audio energy-delta fingerprint near-dup mining with a
    FULL oracle — 16-bit PCM decode → Haitsma–Kalker-style 64-bit
    delta hash → pigeonhole hamming ≤ 6 pairs. Corpus: 8 groups of
    {base, half-volume copy (fingerprint-identical — the volume
    invariance), 3-bit variant, 9-bit outlier} + one undecodable
    payload. Same oracle contract as image_near_duplicates."""
    from openetl_spark.operators import media_synth as MS
    from openetl_spark.operators import multimodal as M

    _media_fp_layout(spark, "audio")
    rows = MS.synthetic_audio_corpus()
    df = spark.createDataFrame(
        [(p, bytearray(b)) for p, b in rows], "path string, content binary"
    )
    return M.audio_near_duplicates(df, max_hamming=6)

