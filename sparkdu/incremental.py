"""Cross-increment (stateful) pipeline ops — the per-crawl-increment shape.

At 10^12 documents the corpus is never processed in one run: each crawl
increment must (a) extract only the new pages — O(new), via the snapshot
appends scan — and (b) dedup the new batch against the ENTIRE historical
corpus without rescanning it. History is consulted only through ONE
compact, snapshot-committed, kind-tagged SIDE TABLE (sparkdu.snapshots
commit protocol: atomic manifest + ``_current`` swap, time travel,
expiry):

  kind 0   (h)                 one raw md5 row per surviving doc
  kind 1   (h)                 one token-normalized md5 row per SHORT
                               surviving doc — curate_job's short-doc
                               fallback (shared tokenizer; the routing
                               threshold uses the same signature prefix,
                               the hash covers the FULL token stream,
                               both exactly as curate_job does)
  kind 2   (band, bsig, doc)   `bands` MinHash band-signature rows per
                               surviving LONG doc

The table is APPEND-ONLY and an increment appends ALL of its survivors'
rows in ONE wave commit — one atomic manifest rename, so there is no
crash window in which part of an increment's state is visible (a
two-table split had exactly that window: replaying after "exact landed,
near didn't" changed the survivor set). Set-membership semantics plus
deterministic decisions (lowest id wins, frozen hash families) make
replays convergent: a crash before the commit re-derives the identical
survivor set; stray files from the crashed write are swept (scoped to
the partitions being appended) before the retry writes.

At 10^12 scale: rows are bucketed by their join key (partition_key =
pmod(xxhash64(h | bsig), K)), so probing shuffles only the new batch;
history-vs-history work never happens — the O(N^2) trap of re-running
global dedup per increment. State size is ~45 bytes + ~12*bands bytes
per surviving doc (~0.05% of a 10 KB-doc corpus).

Shingling parameters import from sparkdu.dedup (CURATE_SHINGLE_K /
CURATE_MAX_TEXT_CHARS) — the SAME constants curate_job uses, so a batch
curate run and an incremental run partition the corpus identically.

Upstream locus: the reference has no incremental story at all (single
process, restart-from-zero — SURVEY §0/§1.1); this module is the
Spark-first capability the north rule's 10^12-document framing demands.
"""

from __future__ import annotations

import glob
import json
import os
import tempfile
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import snapshots as S
from .dedup import (
    CURATE_MAX_TEXT_CHARS,
    CURATE_SHINGLE_K,
    minhash_banded,
    minhash_lsh_pairs,
    word_tokens,
)

STATE_SCHEMA = "kind tinyint, h string, band int, bsig bigint, doc string"

# curate_job parity (canonical values in sparkdu.dedup)
SHINGLE_K = CURATE_SHINGLE_K
MAX_TEXT_CHARS = CURATE_MAX_TEXT_CHARS


def init_state(state_dir: str) -> None:
    """Bootstrap the state table as a committed EMPTY snapshot (so the
    first increment reads a well-defined empty history instead of a
    missing-manifest error). Idempotent."""
    os.makedirs(os.path.join(state_dir, "extracted"), exist_ok=True)
    if S.current_snapshot_id(state_dir) is None:
        S.commit_wave_snapshot(state_dir, "init", 0, [])


def _sweep_stray_partitions(out_dir: str, keys: list[int]) -> int:
    """Remove files in the GIVEN partitions that no committed manifest
    references — the leftovers of a crash between a state write and its
    commit. Readers never see strays (read_snapshot reads manifest files
    only), but commit_wave_snapshot re-LISTS partition dirs, so the
    partitions about to be appended must be swept first. Scoped to
    `keys` so the per-increment cost is O(appended partitions), not
    O(table) (snapshots.remove_orphans is the table-wide maintenance
    form of the same contract)."""
    referenced = {
        f
        for m in S.snapshot_history(out_dir)
        for fl in m["partition_keys"].values()
        for f in fl
    }
    n = 0
    for k in keys:
        for p in glob.glob(
            os.path.join(out_dir, "extracted", f"partition_key={k}",
                         "*.parquet")
        ):
            if os.path.relpath(p, out_dir) not in referenced:
                os.unlink(p)
                n += 1
    return n


def _clean_stray(out_dir: str) -> int:
    """Table-wide stray sweep (test/maintenance hook) — delegates to
    snapshots.remove_orphans, which shares the contract."""
    return S.remove_orphans(out_dir)["deleted_files"]


def _append_state(spark: SparkSession, out_dir: str, rows: DataFrame,
                  num_parts: int, run_id: str, wave: int) -> int:
    """Append kind-tagged state rows bucketed by their join key (h for
    hash rows, bsig for band rows) and commit ONE wave snapshot covering
    the touched partitions — a single atomic manifest rename, so an
    increment's state is all-visible or not-at-all. Returns snapshot id."""
    routed = rows.withColumn(
        "partition_key",
        F.pmod(
            F.xxhash64(F.coalesce(F.col("h"), F.col("bsig").cast("string"))),
            F.lit(num_parts),
        ).cast("int"),
    )
    # the touched-key list is bounded by num_parts (driver-small by design)
    keys = sorted(
        r["partition_key"]
        for r in routed.select("partition_key").distinct().collect()
    )
    _sweep_stray_partitions(out_dir, keys)
    routed.write.mode("append").partitionBy("partition_key").parquet(
        os.path.join(out_dir, "extracted")
    )
    return S.commit_wave_snapshot(out_dir, run_id, wave, keys)


def read_state(spark: SparkSession, state_dir: str) -> DataFrame:
    return S.read_snapshot(spark, state_dir, schema=STATE_SCHEMA)


def read_exact_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Hash rows (kind 0 raw, kind 1 normalized) — the kind predicate
    pushes to the parquet scan, so band rows are never read here."""
    return read_state(spark, state_dir).filter(F.col("kind") <= 1).select(
        "kind", "h"
    )


def read_near_state(spark: SparkSession, state_dir: str) -> DataFrame:
    return read_state(spark, state_dir).filter(F.col("kind") == 2).select(
        "band", "bsig", "doc"
    )


def dedup_increment(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = SHINGLE_K,
    max_text_chars: Optional[int] = MAX_TEXT_CHARS,
    num_parts: int = 16,
    near: bool = True,
    commit: bool = True,
    run_id: str = "inc",
    wave: int = 0,
) -> dict:
    """Dedup one batch against the committed historical state AND within
    itself, then (optionally) append the survivors' state rows as ONE
    atomic wave commit.

    Decision order (each stage sees the previous stage's survivors):
      1. exact raw-hash:   in-batch first-id-wins, then anti-join vs the
                           kind=0 history hashes;
      2. short-doc route:  docs with < shingle_k tokens inside the
                           signature prefix dedup on the TOKEN-NORMALIZED
                           hash over the FULL token stream (in-batch
                           first-id-wins, then anti vs the kind=1 history
                           hashes) — curate_job's fallback, shared
                           tokenizer, routing prefix, and hash coverage;
      3. near (long docs): MinHash band signatures; any doc sharing a
                           (band, bsig) bucket with HISTORY drops, then
                           in-batch LSH candidate pairs drop the higher id
                           of each pair (curate_job's pair-local rule).

    All decisions are deterministic (first/lowest id wins, frozen hash
    families), so a crashed increment re-runs to the identical survivor
    set, and the single-manifest state commit means no replay can ever
    observe half an increment's state — together that makes the commit
    exactly-once in effect. Returns dict with the survivor DataFrame,
    per-stage drop DataFrames (lazy — count() them for metrics), the
    committed snapshot id (None when commit=False), plus two callables:
    `commit_state` — callers that persist the survivors elsewhere (e.g.
    run_incremental_extract's merge) invoke it strictly AFTER their own
    commit, so a crash in between replays to the same survivors and a
    convergent merge instead of losing the batch to its own state rows;
    `release` — unpersists the internal caches once the caller is done
    with every returned DataFrame (long-lived loops leak blocks
    otherwise).
    """
    ids = F.col(id_col)
    hist_exact = read_exact_state(spark, state_dir)
    b = batch.select(id_col, text_col).filter(F.col(text_col).isNotNull())
    b = b.withColumn("_h", F.md5(F.col(text_col).cast("binary")))
    cached: list[DataFrame] = []

    def release():
        for df in cached:
            df.unpersist()

    # 1. exact: one shuffle on the raw hash; lowest id is the batch keeper
    w = Window.partitionBy("_h").orderBy(ids.asc())
    ranked = b.withColumn("_rn", F.row_number().over(w))
    dropped_exact_batch = ranked.filter(F.col("_rn") > 1).select(id_col)
    firsts = ranked.filter(F.col("_rn") == 1).drop("_rn")
    dropped_exact_hist = firsts.join(
        hist_exact.filter(F.col("kind") == 0).select(F.col("h").alias("_h")),
        "_h", "left_semi",
    ).select(id_col)
    ex_kept = firsts.join(
        hist_exact.filter(F.col("kind") == 0).select(F.col("h").alias("_h")),
        "_h", "left_anti",
    )

    if not near:
        survivors = ex_kept
        out = {
            "survivors": survivors.select(id_col, text_col, "_h"),
            "dropped_exact_batch": dropped_exact_batch,
            "dropped_exact_hist": dropped_exact_hist,
            "dropped_norm": None, "dropped_near_hist": None,
            "dropped_near_batch": None,
            "state_snapshot_id": None,
            "release": release,
        }

        def _commit():
            state_rows = survivors.select(
                F.lit(0).cast("tinyint").alias("kind"),
                F.col("_h").alias("h"),
                F.lit(None).cast("int").alias("band"),
                F.lit(None).cast("long").alias("bsig"),
                F.lit(None).cast("string").alias("doc"),
            )
            out["state_snapshot_id"] = _append_state(
                spark, state_dir, state_rows, num_parts, run_id, wave,
            )
            return out["state_snapshot_id"]

        out["commit_state"] = _commit
        if commit:
            _commit()
        return out

    # 2. short-doc routing: the THRESHOLD uses the capped signature prefix
    # (a doc is LSH-eligible iff it has >= k tokens the shingler would
    # see), the normalized HASH covers the full token stream — both
    # exactly as curate_job does, so the two pipelines partition the
    # corpus identically
    ex_kept = (
        ex_kept.withColumn(
            "_nw", F.size(word_tokens(text_col, max_text_chars))
        )
        .withColumn(
            "_hn",
            F.md5(F.concat_ws(" ", word_tokens(text_col)).cast("binary")),
        )
        .persist()
    )
    cached.append(ex_kept)
    short = ex_kept.filter(F.col("_nw") < shingle_k)
    long_docs = ex_kept.filter(F.col("_nw") >= shingle_k)
    wn = Window.partitionBy("_hn").orderBy(ids.asc())
    sranked = short.withColumn("_rn", F.row_number().over(wn))
    hist_norm = hist_exact.filter(F.col("kind") == 1).select(
        F.col("h").alias("_hn")
    )
    dropped_norm = sranked.filter(F.col("_rn") > 1).select(id_col).unionByName(
        sranked.filter(F.col("_rn") == 1)
        .join(hist_norm, "_hn", "left_semi").select(id_col)
    )
    short_kept = (
        sranked.filter(F.col("_rn") == 1)
        .join(hist_norm, "_hn", "left_anti").drop("_rn")
    )

    # 3. near-dup for long docs: banding is the heavy stage — computed ONCE,
    # reused for the history probe, the in-batch pairs, and the state append
    banded = minhash_banded(
        long_docs, id_col=id_col, text_col=text_col, n_hashes=n_hashes,
        bands=bands, max_text_chars=max_text_chars, shingle_k=shingle_k,
        shingle_mode="word",
    ).persist()
    cached.append(banded)
    hist_near = read_near_state(spark, state_dir)
    dropped_near_hist = (
        banded.join(hist_near.select("band", "bsig"), ["band", "bsig"],
                    "left_semi")
        .select(id_col).distinct()
    )
    remaining_banded = banded.join(dropped_near_hist, id_col, "left_anti")
    pairs = minhash_lsh_pairs(
        long_docs, id_col=id_col, text_col=text_col, banded=remaining_banded
    )
    dropped_near_batch = pairs.select(F.col("b_id").alias(id_col)).distinct()
    long_kept = (
        long_docs.join(dropped_near_hist, id_col, "left_anti")
        .join(dropped_near_batch, id_col, "left_anti")
    )

    survivors = long_kept.unionByName(short_kept).persist()
    cached.append(survivors)
    out = {
        "survivors": survivors.select(id_col, text_col),
        "dropped_exact_batch": dropped_exact_batch,
        "dropped_exact_hist": dropped_exact_hist,
        "dropped_norm": dropped_norm,
        "dropped_near_hist": dropped_near_hist,
        "dropped_near_batch": dropped_near_batch,
        "state_snapshot_id": None,
        "release": release,
    }

    def _commit():
        nulls = [
            F.lit(None).cast("int").alias("band"),
            F.lit(None).cast("long").alias("bsig"),
            F.lit(None).cast("string").alias("doc"),
        ]
        state_rows = (
            survivors.select(
                F.lit(0).cast("tinyint").alias("kind"),
                F.col("_h").alias("h"), *nulls,
            )
            .unionByName(
                survivors.filter(F.col("_nw") < shingle_k).select(
                    F.lit(1).cast("tinyint").alias("kind"),
                    F.col("_hn").alias("h"), *nulls,
                )
            )
            .unionByName(
                banded.join(survivors.select(id_col), id_col, "left_semi")
                .select(
                    F.lit(2).cast("tinyint").alias("kind"),
                    F.lit(None).cast("string").alias("h"),
                    "band", "bsig", ids.cast("string").alias("doc"),
                )
            )
        )
        out["state_snapshot_id"] = _append_state(
            spark, state_dir, state_rows, num_parts, run_id, wave,
        )
        return out["state_snapshot_id"]

    out["commit_state"] = _commit
    if commit:
        _commit()
    return out


# -- incremental extraction (appends-scan -> extract -> MERGE) ---------------


def _cp_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_incr_source_id.json")


def last_consumed_source_id(out_dir: str) -> Optional[int]:
    try:
        with open(_cp_path(out_dir)) as f:
            return int(json.load(f)["src_id"])
    except (FileNotFoundError, ValueError, KeyError):
        return None


def run_incremental_extract(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    *,
    num_parts: int = 16,
    model_path: Optional[str] = None,
    run_id: str = "incx",
    dedup_state: Optional[str] = None,
) -> dict:
    """Consume the pages APPENDED to the source snapshot table since the
    last processed snapshot, extract only those — O(new data), never
    O(table) — and MERGE the results into the extracted snapshot table by
    url. The consumed source snapshot id is checkpointed (atomic rename)
    strictly AFTER the merge commit: a crash between the two re-reads the
    same appends and re-merges the same keys to the same values — the
    merge is idempotent by key, so the table converges regardless.

    First run bootstraps: reads the full current source snapshot and
    commits the extracted table as wave 0. Steady-state no-op (nothing
    appended) returns without committing. Returns counters; with
    dedup_state, pages_in counts the pre-dedup batch and pages_in ==
    rows_new + rows_matched + dedup_dropped.

    `dedup_state=` chains CROSS-INCREMENT dedup between extract and
    merge: the extracted batch runs dedup_increment against the state
    table under that dir (keyed by url over extracted_text) and only
    survivors merge. Ordering is merge -> state commit -> checkpoint, so
    every crash window converges: a replayed batch re-derives the same
    survivors (state not yet updated) and the merge is idempotent, or
    the state already contains the batch and the replayed merge is an
    empty no-op over an already-merged table.
    """
    from .api import ExtractConfig, dedup_latest, extract_pages
    from .tables import PAGES_SCHEMA

    cur_src = S.current_snapshot_id(src_dir)
    if cur_src is None:
        raise ValueError(f"no committed source snapshot under {src_dir}")
    last = last_consumed_source_id(out_dir)
    if last is None:
        new_pages = S.read_snapshot(spark, src_dir, schema=PAGES_SCHEMA)
    else:
        if last == cur_src:
            # full counter shape on the noop path too, so callers can
            # aggregate run stats without branching on r["noop"]
            return {"pages_in": 0, "rows_new": 0, "rows_matched": 0,
                    "dedup_dropped": 0, "partitions_touched": 0,
                    "snapshot_id": S.current_snapshot_id(out_dir),
                    "noop": True, "src_from": last, "src_to": cur_src}
        new_pages = S.read_appends_since(
            spark, src_dir, last, schema=PAGES_SCHEMA
        ).select([f.name for f in PAGES_SCHEMA.fields])

    # Per-key arbitration BEFORE the merge: one consumed increment can span
    # several source commits that recrawled the same url with changed html;
    # without arbitration the update batch carries duplicate url keys,
    # merge_upsert raises, and — the checkpoint being written only after the
    # merge — every retry re-reads the same appends and raises again (a
    # poison increment). Keep the latest capture per url (J9, the
    # keep-latest rule dedup_url_canon_latest mirrors). One O(new) shuffle
    # on url.
    new_pages = dedup_latest(new_pages)

    # persist: the parse UDF is the expensive stage, and BOTH commit paths
    # execute the batch several times (merge's duplicate-key probe, the
    # affected-partition collect, and the write itself) — without the cache
    # the 25k-doc bench wave re-parsed 3x (measured 476 docs/s vs 1,282)
    extracted = extract_pages(
        spark, new_pages,
        ExtractConfig(num_partitions=num_parts, model_path=model_path),
    ).persist()
    cached = extracted
    commit_state = None
    release = None
    n_dropped = 0
    pre_dedup = None
    try:
        if dedup_state is not None:
            init_state(dedup_state)
            pre_dedup = extracted  # parsed once: feeds dedup + merge
            dd = dedup_increment(
                spark,
                pre_dedup.select("url",
                                 F.col("extracted_text").alias("text")),
                dedup_state, id_col="url", text_col="text",
                num_parts=num_parts, commit=False, run_id=run_id,
                wave=cur_src,
            )
            extracted = pre_dedup.join(
                dd["survivors"].select("url"), "url", "left_semi"
            )
            commit_state = dd["commit_state"]
            release = dd["release"]
        if S.current_snapshot_id(out_dir) is None:
            routed = extracted.withColumn(
                "partition_key",
                F.pmod(F.xxhash64("url"), F.lit(num_parts)).cast("int"),
            )
            os.makedirs(os.path.join(out_dir, "extracted"), exist_ok=True)
            routed.write.mode("overwrite").partitionBy(
                "partition_key"
            ).parquet(os.path.join(out_dir, "extracted"))
            keys = sorted(
                r["partition_key"]
                for r in routed.select("partition_key").distinct().collect()
            )
            sid = S.commit_wave_snapshot(out_dir, run_id, 0, keys)
            stats = {"rows_new": S.read_snapshot(spark, out_dir).count(),
                     "rows_matched": 0, "snapshot_id": sid,
                     "partitions_touched": len(keys)}
        else:
            stats = S.merge_upsert(
                spark, out_dir, extracted, key_cols=["url"],
                num_parts=num_parts, route_col="url", run_id=run_id,
            )
        pages_in = stats["rows_new"] + stats["rows_matched"]
        if commit_state is not None:
            # state commit strictly AFTER the merge (see docstring ordering)
            commit_state()
            pages_in = pre_dedup.count()
            n_dropped = (
                pages_in - stats["rows_new"] - stats["rows_matched"]
            )
        # checkpoint strictly after the table commit (atomic rename)
        fd, tmp = tempfile.mkstemp(dir=out_dir, prefix="_incr_cp_")
        with os.fdopen(fd, "w") as f:
            json.dump({"src_id": cur_src}, f)
        os.replace(tmp, _cp_path(out_dir))
        stats.update({"src_from": last, "src_to": cur_src,
                      "pages_in": pages_in,
                      "dedup_dropped": n_dropped,
                      "noop": False})
        return stats
    finally:
        cached.unpersist()
        if release is not None:
            release()
