"""M6 — per-partition lineage, checkpointing, exact resume [B:6,14].

Absent in the reference (single-process, restart-from-zero); required by the
north rule. Design (SURVEY SS4.3 item 4):

- every page row gets a stable ``partition_key = pmod(xxhash64(url), K)``;
- the run proceeds in WAVES of partition keys; each wave is one distributed
  job: extract -> idempotent overwrite of ``extracted/partition_key=<k>/``
  directories -> THEN append `checkpoints` rows (status='done') for exactly
  those keys. Lineage commit strictly after data commit, so a crash can only
  lose the in-flight wave (its partial files are overwritten on retry);
- resume = anti-join (J7) of partition keys against done checkpoints of the
  same run_id. On Iceberg, each wave is one snapshot commit; locally each
  wave is a dynamic-partition parquet overwrite.

A wave extracts through the flagship's batch loop (api.extract_udf) for
HTML, PAGE-XML and PDF alike; its EXTRACTED_LINEAGE_SCHEMA adds the
per-row metrics (partition_key, n_nodes, n_bytes_in, had_error) that
aggregate into the checkpoint counters. The native legs synthesize
url/warc_ts from doc_id and carry the payload in the `html` column, so the
wave machinery (salting, J9 sort, checkpoints, resume) is shared verbatim.
"""

from __future__ import annotations

import datetime as _dt
import os
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .api import extract_udf, latest_first
from .tables import EXTRACTED_SCHEMA

EXTRACTED_LINEAGE_SCHEMA = T.StructType(
    EXTRACTED_SCHEMA.fields
    + [
        T.StructField("partition_key", T.IntegerType()),
        T.StructField("n_nodes", T.IntegerType()),
        T.StructField("n_bytes_in", T.LongType()),
        T.StructField("had_error", T.IntegerType()),
    ]
)


@dataclass
class ExtractJobConfig:
    run_id: str
    out_dir: str                      # root: <out>/extracted, <out>/checkpoints
    num_partitions: int = 64
    waves: int = 8
    model_path: Optional[str] = None
    resume: bool = False
    fail_after_waves: Optional[int] = None  # test hook (T5 failure injection)
    input_format: str = "html"        # html | pagexml | pdf (native legs)


def done_partition_keys(spark: SparkSession, cfg: ExtractJobConfig) -> set[int]:
    cp = os.path.join(cfg.out_dir, "checkpoints")
    if not os.path.isdir(cp) or not os.listdir(cp):
        return set()
    df = spark.read.parquet(cp)
    rows = (
        df.filter((F.col("run_id") == cfg.run_id) & (F.col("status") == "done"))
        .select("partition_key").distinct().collect()
    )
    return {r[0] for r in rows}


def run_extract_job(spark: SparkSession, pages: DataFrame, cfg: ExtractJobConfig) -> dict:
    """Wave-committed, resumable extraction run. Returns summary counters."""
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    ext_dir = os.path.join(cfg.out_dir, "extracted")
    cp_dir = os.path.join(cfg.out_dir, "checkpoints")

    k = cfg.num_partitions
    keyed = pages.select("url", "warc_ts", "html").withColumn(
        "partition_key", F.pmod(F.xxhash64("url"), F.lit(k)).cast("int")
    )
    done = done_partition_keys(spark, cfg) if cfg.resume else set()
    todo = sorted(set(range(k)) - done)
    waves = [todo[i :: cfg.waves] for i in range(cfg.waves)]
    waves = [w for w in waves if w]

    total = {"n_pages": 0, "n_nodes": 0, "n_errors": 0, "waves_run": 0}
    for wi, wave_keys in enumerate(waves):
        if cfg.fail_after_waves is not None and wi >= cfg.fail_after_waves:
            raise RuntimeError(f"injected failure before wave {wi} (test hook)")
        started = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        wave_df = (
            keyed.filter(F.col("partition_key").isin([int(x) for x in wave_keys]))
            .repartition(len(wave_keys), "partition_key")
            # J9 inside the UDF: one shuffle total
            .sortWithinPartitions(F.col("url").asc(), *latest_first())
            .mapInArrow(
                extract_udf(EXTRACTED_LINEAGE_SCHEMA, cfg.input_format, cfg.model_path),
                schema=EXTRACTED_LINEAGE_SCHEMA,
            )
        )
        # A6: free pipeline metrics via observe() — evaluated during the
        # write action, no extra job (SURVEY SS2.4 A6 [B:6,14])
        from pyspark.sql import Observation

        obs = Observation(f"{cfg.run_id}-wave{wi}")
        wave_df = wave_df.observe(
            obs,
            F.count(F.lit(1)).alias("rows_out"),
            F.sum("had_error").alias("errors"),
            F.sum("n_bytes_in").alias("bytes_in"),
        )
        # one execution of the (expensive) parse UDF: cache for write + stats
        wave_df = wave_df.persist()
        stats_df = wave_df.groupBy("partition_key").agg(
            F.count("*").alias("n_pages"),
            F.sum("n_nodes").alias("n_nodes"),
            F.sum("n_bytes_in").alias("n_bytes_in"),
            F.sum("had_error").alias("n_errors"),
        )
        wave_df.drop("n_nodes", "n_bytes_in", "had_error").write.mode(
            "overwrite"
        ).partitionBy("partition_key").parquet(ext_dir)
        # data committed; now lineage (strictly after — SURVEY hard-part 5)
        finished = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        stats = {r["partition_key"]: r for r in stats_df.collect()}
        cp_rows = []
        for pk in wave_keys:
            s = stats.get(pk)
            cp_rows.append(
                {
                    "run_id": cfg.run_id,
                    "partition_key": int(pk),
                    "n_pages": int(s["n_pages"]) if s else 0,
                    "n_nodes": int(s["n_nodes"]) if s else 0,
                    "n_bytes_in": int(s["n_bytes_in"]) if s else 0,
                    "n_errors": int(s["n_errors"]) if s else 0,
                    "started_ts": started,
                    "finished_ts": finished,
                    "status": "done",
                }
            )
            if s:
                total["n_pages"] += int(s["n_pages"])
                total["n_nodes"] += int(s["n_nodes"])
                total["n_errors"] += int(s["n_errors"])
        from .tables import CHECKPOINTS_SCHEMA

        # table-format commit (sparkdu.snapshots) BEFORE the checkpoint
        # append: resume keys off checkpoints, so a crash between the two
        # re-runs the wave and re-commits the same partition keys
        # (idempotent replace). Order data -> snapshot -> lineage means no
        # state where checkpointed data is invisible to snapshot readers.
        from .snapshots import commit_wave_snapshot

        total["snapshot_id"] = commit_wave_snapshot(
            cfg.out_dir, cfg.run_id, wi, [int(x) for x in wave_keys]
        )
        spark.createDataFrame(cp_rows, CHECKPOINTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(cp_dir)
        wave_df.unpersist()
        total["waves_run"] += 1
        # an all-empty wave (every key filtered to 0 rows) can leave the
        # CollectMetrics node unexecuted — Observation.get then raises
        # instead of returning zeros; a skewed real corpus can hit this
        try:
            total.setdefault("observed", []).append(obs.get)
        except Exception:
            total.setdefault("observed", []).append(
                {"rows_out": 0, "errors": 0, "bytes_in": 0}
            )
    return total
