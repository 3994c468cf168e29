"""Continuous ingest: the reference's daily batch loop as a stream.

The reference re-runs `main.py` per downloaded date directory
(reference run_scraper.sh, main.py:18-33).  Production shape here:
a ``binaryFile`` readStream watches the log root; each micro-batch of
newly-landed XML files runs through the SAME parse + fanout code as
the batch pipeline (plans/etl.py) inside ``foreachBatch``, publishing
into the same ``{table}/dt=.../`` layout via the replay-idempotent
batch-keyed publish of streaming/etl_stream.py (lineage + batch key,
erase-before-republish, committed-batch manifest) — so a crash-
replayed micro-batch lands exactly once, same as the tenhou stream.
Corrupt files are quarantined to ``{out}/_corrupt`` with the same
(dt, game_id, error) rows the batch pipeline writes, never dropped.

Id minting difference vs batch (documented divergence): the batch
pipeline numbers kyokus densely 0..n-1 per date by game_id — a stream
cannot, because later files must not renumber earlier ones.  Streamed
kyoku ids are content-derived instead:

    kyoku_id = (xxhash64(game_id) >>> 8) * 100 + kyoku_local

— deterministic per game (reprocessing a file mints the same ids),
drawn from a 2⁵⁶ space (the widest that keeps ``hash*100 + 99`` inside
int64): expected birthday collisions ≈ n²/2⁵⁷ ≈ 7 pairs per BILLION
games — and disjoint from batch ids except with probability ~3·10⁻¹⁰
per game (hash_base below the ~2·10⁹ batch-id ceiling), so the two
minting schemes coexist in one table; a nightly compaction can rewrite
streamed ids to the dense batch numbering when exact parity matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.etl import parse_scan, table_df
from ..schemas import TABLE_SCHEMAS
from .etl_stream import _lineage_id, publish_batch


_BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def stream_logs(spark: SparkSession, log_dir: str) -> DataFrame:
    """binaryFile readStream over the log tree (same scan contract as
    sources/xml_source.scan_logs, streaming flavor).  Streaming sources
    cannot infer schemas; binaryFile's is fixed."""
    raw = (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", "*.xml")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1000)
        .load(log_dir)
    )
    dt_raw = F.regexp_extract(F.col("path"), r"/(\d{8})/[^/]*$", 1)
    game_id = F.regexp_extract(F.col("path"), r"/([^/]+)\.xml$", 1)
    return raw.select(
        "content", dt_raw.alias("dt_raw"), game_id.alias("game_id")
    ).where(F.col("dt_raw") != "")


def start_ingest(
    spark: SparkSession,
    log_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    compat: bool = True,
    available_now: bool = False,
):
    """Start the continuous ETL; returns the StreamingQuery."""
    from ..shipping import ensure_shipped

    ensure_shipped(spark)
    lineage = _lineage_id(spark, checkpoint_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        all_parsed = parse_scan(batch_df, compat).persist()
        parsed = all_parsed.where(F.col("error").isNull())
        try:
            # table_df mints days*100000 + kyoku_offset + local; solve
            # for the hash-based id by folding the date term into the
            # per-game offset (see module docstring)
            hash_base = F.shiftrightunsigned(F.xxhash64("game_id"), 8) * 100
            offsets = parsed.select("dt", "game_id", "days", "n_kyokus").withColumn(
                "kyoku_offset", hash_base - F.col("days") * 100000
            )
            tables = {
                t: table_df(parsed, offsets, t) for t in TABLE_SCHEMAS
            }
            tables["_corrupt"] = all_parsed.where(
                F.col("error").isNotNull()
            ).select("dt", "game_id", "error")
            publish_batch(spark, out_dir, f"{lineage}-{batch_id}", tables)
        finally:
            all_parsed.unpersist()

    writer = (
        stream_logs(spark, log_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
