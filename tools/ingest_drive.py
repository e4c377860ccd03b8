"""100x ingest-slope drive (round-9): prove the O(increment) claim of
the incremental setsim ingest + streaming labels at one more decade
than the 20x drive.

Synthesizes ``copies`` copies of sf0.1 documents (default 100 — ~500k
docs with planted exact/near-dup families), ingests them as
``n_super`` equal super-batches through ``setsim_ingest_batch`` (the
same path the streaming sink drives), and times EACH super-batch.
The claim under test: per-batch wall time stays ~FLAT while the
stored base grows ~10x from the first batch to the last — because the
probe is (new x base-touched) u (new x new), the label merge is
increment-sized, and the stats-bootstrapped snapshot merge prunes
files from birth.  Super-linear growth in the curve is the failure
signature (an O(corpus)-per-batch regression).

End checks are the stage-8 invariants at 100x: ledger reconciles, no
exact-dup text survives, labels cover every doc exactly once, every
dropped doc's component holds a published canonical.

Run: ``PYTHONPATH=/root/repo python tools/ingest_drive.py [copies]
[n_super] [--curate]`` (defaults 100, 10; prints ONE JSON line).
``--curate`` drives the FULL streaming-curate chain per batch
(boilerplate + span + quality + decontam + dedup ingest,
streaming/curate.py) instead of the bare setsim ingest — the cleaning
stages are batch-local, so the flat-slope claim must hold for the
composed chain too; the end checks add the ledger-row identity.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

# runnable bare from any cwd (r14 verdict: same fix as scale_drive)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from tools.scale_drive import synthesize

from ros_sql_spark.functions.pin import pin


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--curate"]
    curate_mode = "--curate" in sys.argv[1:]
    copies = int(args[0]) if len(args) > 0 else 100
    n_super = int(args[1]) if len(args) > 1 else 10
    if copies % n_super:
        raise SystemExit("copies must divide by n_super")
    sf_dir = "/root/testdata/sf0.1"
    work = tempfile.mkdtemp(prefix="ingest_drive_")
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        from ros_sql_spark.operators.dedup import setsim_join  # noqa: F401
        from ros_sql_spark.streaming.dedup import (
            setsim_corpus_read,
            setsim_ingest_batch,
            setsim_labels_read,
        )

        t0 = time.time()
        synthesize(spark, sf_dir, work, copies)
        synth_sec = round(time.time() - t0, 2)
        docs = spark.read.parquet(f"{work}/documents")
        n_docs = docs.count()

        store = f"{work}/store"
        per = copies // n_super
        budgets = None
        if curate_mode:
            # mixture twin rides the curate path (round-12): per-source
            # budgets sized from the FIRST super-batch's token mass x1.5
            # so every budget exhausts early in the run — later batches
            # must stay cheap (residual-0 spending is still
            # increment-sized) and spend must stop at the boundary
            from ros_sql_spark.functions.text import token_count_bpe

            budgets = {
                r["source"]: int(1.5 * r["t"])
                for r in docs.filter(F.col("doc_id") < per * 1_000_000)
                .groupBy("source")
                .agg(F.sum(token_count_bpe("text")).alias("t"))
                .collect()
            }
        per_batch: list[float] = []
        hh_sec: list[float] = []
        qual_sec: list[float] = []
        kept = dropped = seen = 0
        dedup_in = 0  # rows that reached the dedup ingest (labels grain)
        ledger_ok = True
        for b in range(n_super):
            lo = b * per * 1_000_000
            hi = (b + 1) * per * 1_000_000
            batch = docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).select("doc_id", "text", "source")
            t0 = time.time()
            if curate_mode:
                from ros_sql_spark.streaming.curate import curate_ingest_batch

                # min_stopword_ratio disabled: synthesize()'s consonant
                # rotation destroys stopwords by construction, and a
                # quality gate that rejects the rotated bulk would
                # starve the dedup stage of its slope evidence — the
                # drive measures COST, the gate's semantics are
                # unit-tested
                row = curate_ingest_batch(
                    batch, b, store, threshold=0.5, k=5,
                    min_stopword_ratio=-1.0,
                    boilerplate_max_df=50,
                    span_dedup_k=8, span_min_docs=25,
                    budgets=budgets,
                )
                st = {
                    "n_batch": row["n_batch"],
                    "n_kept": row["n_kept"],
                    # every cleaning drop counts toward input coverage
                    "n_dropped": row["n_batch"] - row["n_kept"],
                }
                ledger_ok = ledger_ok and row["n_batch"] == (
                    row["n_boilerplate"] + row["n_span"] + row["n_quality"]
                    + row["n_decontam"] + row["n_semantic"]
                    + row["n_dedup"] + row["n_kept"]
                )
                dedup_in += row["n_dedup"] + row["n_kept"]
            else:
                st = setsim_ingest_batch(batch, b, store, threshold=0.5, k=5)
                dedup_in += st["n_batch"]
            per_batch.append(round(time.time() - t0, 2))
            kept += st["n_kept"]
            dropped += st["n_dropped"]
            seen += st["n_batch"]
            # heavy-hitters twin rides the same batch cadence (round
            # 11): per-source top-text summaries merged into O(k)
            # state per group, timed OUTSIDE per_batch so the dedup
            # slope check stays pure
            from ros_sql_spark.streaming.sketch import topk_sketch_batch

            HH_K = 8  # one binding for the sketch AND its bound checks
            t0 = time.time()
            topk_sketch_batch(
                docs.filter(
                    (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
                ).select("source", F.md5("text").alias("key")),
                b,
                f"{work}/hh",
                "source",
                "key",
                k=HH_K,
            )
            hh_sec.append(round(time.time() - t0, 2))

            # quality-monitor twin (round 12), same cadence: per-batch
            # constraint fold + keyed-multiplicity merge.  Batch key
            # ranges are disjoint (the ingest cadence), so the merge's
            # stats-pruning keeps per-batch cost INCREMENT-sized —
            # except the planted collisions (every 1000th doc maps
            # into batch 0's key range), which prune to batch-0 files
            # only: the O(touched-files) contract, demonstrated.
            from ros_sql_spark.streaming.quality import (
                quality_ingest_batch,
            )

            t0 = time.time()
            qb = docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).select(
                F.when(
                    F.col("doc_id") % 1000 == 0,
                    F.col("doc_id") % (per * 1_000_000),
                )
                .otherwise(F.col("doc_id"))
                .alias("k"),
                "n_chars",
            )
            quality_ingest_batch(
                qb, b, f"{work}/qual", ["k"],
                {"n_chars_positive": F.col("n_chars") <= 0},
            )
            qual_sec.append(round(time.time() - t0, 2))

        checks: dict[str, bool] = {}
        if curate_mode:
            checks["curate_ledger_rows_reconcile"] = ledger_ok
            # mixture twin: the mix is a selection over the corpus,
            # every source's spend stopped AT its budget boundary
            # (bites from below, bounded from above by one doc), and
            # the O(1) manifest-meta running spend equals the table
            from ros_sql_spark.sources.snapshot import snapshot_meta
            from ros_sql_spark.streaming.curate import (
                curate_corpus_read,
                curate_mix_read,
            )

            mixagg = {
                r["source"]: (int(r["t"]), int(r["mx"]))
                for r in curate_mix_read(spark, store)
                .groupBy("source")
                .agg(
                    F.sum("n_tok").alias("t"), F.max("n_tok").alias("mx")
                )
                .collect()
            }
            checks["curate_mix_subset_of_corpus"] = (
                curate_mix_read(spark, store)
                .join(
                    curate_corpus_read(spark, store).select("doc_id"),
                    "doc_id",
                    "left_anti",
                )
                .count()
                == 0
            )
            checks["curate_mix_spend_bounded"] = all(
                t - budgets[s] <= mx for s, (t, mx) in mixagg.items()
            )
            checks["curate_mix_budget_bites"] = all(
                t >= budgets[s] - mx for s, (t, mx) in mixagg.items()
            )
            meta_spend = (snapshot_meta(spark, f"{store}/mix") or {}).get(
                "spend", {}
            )
            checks["curate_mix_meta_matches_table"] = {
                s: t for s, (t, _m) in mixagg.items()
            } == {s: int(v) for s, v in meta_spend.items() if int(v)}
        checks["ledger_reconciles"] = (
            seen == n_docs and kept + dropped == n_docs
        )
        checks["dropped_something"] = dropped > 0
        corpus = setsim_corpus_read(spark, store)
        dup = (
            corpus.groupBy(F.md5(F.col("text").cast("binary")))
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        checks["no_exact_dup_survives"] = dup == 0
        checks["corpus_matches_ledger"] = corpus.count() == kept
        # labels grain = rows that reached the dedup ingest (== all
        # input rows in setsim mode; cleaning survivors in curate mode)
        lbl = setsim_labels_read(spark, store)
        n_lbl = lbl.count()
        checks["labels_cover_all_once"] = (
            n_lbl == dedup_in
            and lbl.select("doc_id").distinct().count() == dedup_in
        )
        kept_comps = (
            lbl.join(corpus.select("doc_id"), "doc_id", "left_semi")
            .select("component")
            .distinct()
        )
        orphans = (
            lbl.join(corpus.select("doc_id"), "doc_id", "left_anti")
            .join(kept_comps, "component", "left_anti")
            .count()
        )
        checks["dropped_have_published_canonical"] = orphans == 0
        # the slope check itself: an early window vs a late window of
        # equal width w, DISJOINT by construction (batch 1 excluded:
        # empty-base fast path + JIT warmup).  The old hardcoded
        # 1:4-vs-last-3 windows were the SAME batches at n_super=4
        # (tautologically green — round-9 review); w adapts so the
        # check is meaningful from n_super=3 up.  2x headroom on a
        # ~flat claim absorbs host noise while still failing any
        # O(corpus) component (~base-growth-factor x here).
        w = max(1, min(3, (n_super - 1) // 2))
        early = sum(per_batch[1 : 1 + w]) / w
        late = sum(per_batch[-w:]) / w
        checks["per_batch_flat_within_2x"] = late <= 2 * early
        # heavy-hitters twin at 100x: the drained merge chain must hold
        # every MG guarantee against the EXACT full-corpus counts, and
        # its per-batch cost must be flat too (O(k) state per group)
        from ros_sql_spark.sources.snapshot import snapshot_read

        hh = pin(snapshot_read(spark, f"{work}/hh"), eager=True)
        keyed = docs.select("source", F.md5("text").alias("key"))
        exact = pin(
            keyed.groupBy("source", "key")
            .agg(F.count("*").cast("bigint").alias("c")),
            eager=True,
        )
        surv = hh.filter(F.col("key").isNotNull())
        bad_bounds = (
            surv.join(exact, ["source", "key"])
            .filter(
                (F.col("c_low") > F.col("c"))
                | (F.col("c") > F.col("c_low") + F.col("err"))
            )
            .count()
        )
        errs = hh.groupBy("source").agg(
            F.max("err").alias("err"),
            F.sum(
                F.when(F.col("key").isNotNull(), 1).otherwise(0)
            ).alias("n_keys"),
        )
        missing_heavy = (
            exact.join(F.broadcast(errs.select("source", "err")), "source")
            .filter(F.col("c") > F.col("err"))
            .join(surv.select("source", "key"), ["source", "key"],
                  "left_anti")
            .count()
        )
        over = (
            errs.join(
                keyed.groupBy("source").agg(F.count("*").alias("n")),
                "source",
            )
            .filter(
                (F.col("err") > F.col("n") / (HH_K + 1))
                | (F.col("n_keys") > HH_K)
            )
            .count()
        )
        checks["hh_stream_bounds_hold"] = bad_bounds == 0
        checks["hh_stream_no_heavy_key_missing"] = missing_heavy == 0
        checks["hh_stream_err_and_state_bounded"] = over == 0
        hw = max(1, min(3, (n_super - 1) // 2))
        checks["hh_per_batch_flat_within_2x"] = (
            sum(hh_sec[-hw:]) / hw <= 2 * (sum(hh_sec[1 : 1 + hw]) / hw)
        )
        # quality twin: end-state dup count must equal an exact
        # from-scratch recompute over EVERYTHING ingested, and the
        # per-batch cost curve must stay flat (range-disjoint merges)
        from ros_sql_spark.sources.snapshot import snapshot_meta

        qmeta = snapshot_meta(spark, f"{work}/qual/counts")["checks"]
        recompute = (
            docs.select(
                F.when(
                    F.col("doc_id") % 1000 == 0,
                    F.col("doc_id")
                    % (per * 1_000_000),
                )
                .otherwise(F.col("doc_id"))
                .alias("k")
            )
            .groupBy("k")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > 1)
            .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).alias("d"))
            .collect()[0]["d"]
        )
        checks["quality_unique_matches_recompute"] = (
            int(qmeta["k_unique"]) == int(recompute)
        )
        checks["quality_dups_planted_and_found"] = int(recompute) > 0
        checks["quality_per_batch_flat_within_2x"] = (
            sum(qual_sec[-hw:]) / hw <= 2 * (sum(qual_sec[1 : 1 + hw]) / hw)
        )
        out = {
            "metric": "ingest_drive",
            "mode": "curate" if curate_mode else "setsim",
            "copies": copies,
            "n_super": n_super,
            "docs": n_docs,
            "kept": kept,
            "synth_sec": synth_sec,
            "per_batch_sec": per_batch,
            "hh_per_batch_sec": hh_sec,
            "quality_per_batch_sec": qual_sec,
            "checks": checks,
        }
        print(json.dumps(out))
        return 0 if all(checks.values()) else 1
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
