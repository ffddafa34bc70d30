"""Sustained-ingest endurance run — the sandbox's strongest proxy for
the north rule's 10^10-event scale.

The bench (bench.py) measures the CDC kernel's steady-state rate over a
few minutes; this runner measures what the north rule actually asks
for: that the SAME engine, under sustained ingest with inline
maintenance, holds that rate and its metadata bounds over a run large
enough that any O(batches) or O(table-files) cost would compound
visibly. Shape:

- The change stream is generated in WAVES. Each wave is an independent
  deterministic binlog segment: ``gen_change_stream(per_wave,
  seed=BASE_SEED*1000+w)`` with ``lsn`` and ``ts`` shifted by the wave
  offset, so the full stream is reproducible wave-by-wave at
  verification time with zero stored state. Waves past the halfway
  point carry the additive ``lang`` column (schema evolution happens
  MID-RUN, not in a fixture).
- Each wave is applied by a FRESH StreamDriver on the SAME checkpoint:
  every wave boundary is a real kill/resume, so the run also soaks the
  recovery path ~wave-count times (batch ids must keep advancing, no
  reprocessing — asserted).
- Inline maintenance: ``compact_every`` + ``retention_every``
  (snapshot expiry + orphan vacuum), so snapshot count, manifest bytes
  and dead files must stay O(keep_last), not O(batches) — the
  per-wave metadata series in the report is the evidence.
- Final verification is ENGINE-INDEPENDENT: the full stream is
  regenerated and reduced in one pass — ``groupBy(key).max_by(row,
  (ts, lsn))``, drop keys whose winner is a delete, coerce the dirty
  payload columns with inline SQL expressions (NOT the engine's
  coercion library) — and compared to ``table.read()`` by a null-safe
  full-outer join: 0 mismatching rows required, per-turn text equality
  included (BASELINE.json's per-row invariant).

Writes BENCH/endurance.json (full per-wave series) and
BENCH/ENDURANCE.md (the readable report).

Env knobs:
  ETL_END_EVENTS   total events            (default 200_000_000)
  ETL_END_WAVES    waves                   (default 10)
  ETL_END_FILES    binlog files per wave   (default 10)
  ETL_END_MFPT     files per microbatch    (default 2)
  ETL_END_CONVS    n_convs (x32 turns)     (default 100_000)
  ETL_END_BUCKETS  table buckets           (default 64)
  ETL_END_CPUS     local[N] / shuffle parts (default 32)
  ETL_END_WORK     working dir             (default /dev/shm/etl_endurance)
  ETL_END_KEEP     keep working dir after the run (default: delete)
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_rs_spark.cdc.lineage import read_lineage  # noqa: E402
from etl_rs_spark.cdc.stream import StreamDriver  # noqa: E402
from etl_rs_spark.config import CdcConfig  # noqa: E402
from etl_rs_spark.generator import gen_change_stream, to_envelope  # noqa: E402
from etl_rs_spark.session import get_spark  # noqa: E402
from etl_rs_spark.sinks.lake import LakeTable  # noqa: E402

DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)
BASE_SEED = 77


def _env_int(name: str, default: int) -> int:
    return int(os.environ.get(name, str(default)))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except OSError:
                pass
    return total


def gen_wave(spark, w: int, per: int, convs: int, waves: int, parts: int):
    """Wave w's typed slice: deterministic from (BASE_SEED, w) alone."""
    off = w * per
    ev = gen_change_stream(
        spark,
        n_events=per,
        n_convs=convs,
        turns_per_conv=32,
        seed=BASE_SEED * 1000 + w,
        hot_conv_frac=0.2,
        delete_frac=0.05,
        evolve_after_lsn=0 if w >= waves // 2 else None,
        partitions=parts,
    )
    return ev.withColumn("lsn", F.col("lsn") + F.lit(off)).withColumn(
        "ts", F.col("ts") + F.expr(f"INTERVAL {off} SECOND")
    )


def write_wave_files(env_df, binlog: str, w: int, n_files: int) -> list[str]:
    """One pass: range-partition the wave's envelope on lsn, rename the
    parts into LSN order. (write_event_files' per-chunk filter would
    rescan the wave n_files times — fine at soak scale, not here.)"""
    tmp = os.path.join(binlog, f"_tmp-wave-{w:03d}")
    (
        env_df.repartitionByRange(n_files, "lsn")
        .sortWithinPartitions("lsn")
        .write.mode("overwrite")
        .parquet(tmp)
    )
    parts = sorted(glob.glob(os.path.join(tmp, "part-*.parquet")))
    paths = []
    for i, p in enumerate(parts):
        final = os.path.join(binlog, f"batch-w{w:03d}-{i:04d}.parquet")
        shutil.move(p, final)
        paths.append(final)
    shutil.rmtree(tmp)
    return paths


#: the BASELINE.json per-row invariant columns, plus the evolved and
#: coerced payload columns — the compared surface in BOTH verify modes
REQUIRED = [
    "conv_id", "turn_idx", "role", "text", "tool", "ts",
    "meta_active", "meta_edited", "lang",
]


def _coerce_meta(df):
    """Dirty-payload coercions, inline (independent of functions/coercion
    and cdc/normalize): reference cascade semantics,
    /root/reference/src/types.rs:243-273."""
    low = F.lower(F.trim(F.col("meta_active")))
    return df.withColumn(
        "meta_active",
        F.when(low.isin("true", "1", "yes", "y"), F.lit(True)).when(
            low.isin("false", "0", "no", "n"), F.lit(False)
        ),
    ).withColumn(
        "meta_edited",
        F.coalesce(
            F.try_to_timestamp(F.col("meta_edited"), F.lit("yyyy-MM-dd")),
            F.try_to_timestamp(F.col("meta_edited"), F.lit("dd/MM/yyyy")),
            F.try_to_timestamp(F.col("meta_edited"), F.lit("MM/dd/yyyy")),
        ).cast("date"),
    )


def _canonical_hash() -> F.Column:
    """64-bit hash of the REQUIRED columns' canonical rendering — the
    same expression evaluated on the oracle's winners and on the table,
    so value equality reduces to (count, sum, xor) of this column.
    Types are normalized first (bool/date/timestamp -> their one Spark
    string rendering, nulls -> a sentinel no generated value contains)."""
    rendered = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in REQUIRED
    ]
    return F.xxhash64(F.concat_ws("\x1f", *rendered))


def _hash_triple(df) -> tuple:
    """(row count, sum, xor) over a one-column DataFrame of hashes ``h``
    — the order-insensitive equality summary both sides reduce to."""
    r = df.agg(
        F.count("*").alias("n"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
        F.expr("bit_xor(h)").alias("x"),
    ).collect()[0]
    return int(r["n"]), r["s"], r["x"]


def oracle_hash_triple(spark, waves, per, convs, parts, work) -> tuple:
    """The oracle side of the scale-path verifier: per WAVE, regenerate
    and reduce to per-key winner partials carrying each winning row's
    canonical hash (one job per wave, so a wave's window and aggregation
    shuffles are released before the next begins — peak scratch disk is
    O(wave), not O(run)); reduce the partials associatively to global
    winners; return their (count, sum, xor) hash triple."""
    partials_dir = os.path.join(work, "oracle_partials")
    for w in range(waves):
        ev = gen_wave(spark, w, per, convs, waves, parts)
        if "lang" not in ev.columns:
            ev = ev.withColumn("lang", F.lit(None).cast("string"))
        ev = _coerce_meta(ev)
        # hash each event's would-be table row, then keep the per-key
        # (ts, lsn)-max as a slim partial: map-side combine shrinks the
        # exchange to key+struct, no payload bytes cross the shuffle
        slim = ev.select(
            "conv_id",
            "turn_idx",
            F.struct("ts", "lsn", "op", _canonical_hash().alias("h")).alias(
                "cand"
            ),
        )
        (
            slim.groupBy("conv_id", "turn_idx")
            .agg(F.max("cand").alias("cand"))
            .write.mode("overwrite")
            .parquet(os.path.join(partials_dir, f"wave-{w:03d}"))
        )
        spark.sparkContext._jvm.System.gc()  # release the wave's shuffles
    winners = (
        spark.read.parquet(os.path.join(partials_dir, "wave-*"))
        .groupBy("conv_id", "turn_idx")
        .agg(F.max("cand").alias("cand"))
        .where(F.col("cand.op") != "D")
        .select(F.col("cand.h").alias("h"))
    )
    triple = _hash_triple(winners)
    shutil.rmtree(partials_dir, ignore_errors=True)
    return triple


def oracle_hash_verdict(spark, table, waves, per, convs, parts, work) -> dict:
    """Scale-path verification (fits 10^9+ events on one box): compare
    the oracle winners' hash triple to the table's over the SAME
    canonical-hash expression. The full-row join verifier
    (oracle_mismatches) pins this one at 2x10^8; the harness test pins
    the two oracle reductions against each other at small scale."""
    on, os_, ox = oracle_hash_triple(spark, waves, per, convs, parts, work)
    tn, ts_, tx = _hash_triple(
        table.read().select(_canonical_hash().alias("h"))
    )
    equal = on == tn and os_ == ts_ and ox == tx
    return {
        "mode": "hash",
        "oracle_rows": on,
        "table_rows": tn,
        "hash_sum_equal": os_ == ts_,
        "hash_xor_equal": ox == tx,
        "mismatch_rows": 0 if equal else -1,
        "text_mismatch_rows": 0 if (os_ == ts_ and ox == tx) else -1,
        "columns_compared": REQUIRED,
    }


def oracle_mismatches(spark, table, waves, per, convs, parts) -> dict:
    """Regenerate the full stream, reduce it in ONE pass independently
    of the engine's merge/dedup machinery, and count rows that differ
    from the table (null-safe, all columns)."""
    full = None
    for w in range(waves):
        ev = gen_wave(spark, w, per, convs, waves, parts)
        full = ev if full is None else full.unionByName(
            ev, allowMissingColumns=True
        )
    if "lang" not in full.columns:
        full = full.withColumn("lang", F.lit(None).cast("string"))

    row = F.struct(*[F.col(c) for c in full.columns])
    winners = (
        full.groupBy("conv_id", "turn_idx")
        .agg(F.max_by(row, F.struct("ts", "lsn")).alias("w"))
        .select("w.*")
        .where(F.col("op") != "D")
        .drop("op", "lsn")
    )
    winners = _coerce_meta(winners)

    state = table.read()
    required = REQUIRED
    for c in required:
        assert c in winners.columns, f"oracle lost column {c}"
        assert c in state.columns, f"table lost column {c}"
    key = ["conv_id", "turn_idx"]
    o = winners.select(*required).alias("o")
    t = state.select(*required).alias("t")
    joined = o.join(t, on=key, how="full_outer")
    # a key present on one side only shows up as the other side's
    # columns all-null; ts is never null on a real row, so it doubles
    # as the presence flag. Null-safe inequality over every non-key
    # column catches both value drift and presence drift.
    neq = None
    for c in required:
        if c in key:
            continue
        bad = ~F.col(f"o.{c}").eqNullSafe(F.col(f"t.{c}"))
        neq = bad if neq is None else (neq | bad)
    agg = joined.agg(
        F.count("*").alias("joined_rows"),
        F.sum(F.when(F.col("o.ts").isNotNull(), 1).otherwise(0)).alias(
            "oracle_rows"
        ),
        F.sum(F.when(F.col("t.ts").isNotNull(), 1).otherwise(0)).alias(
            "table_rows"
        ),
        F.sum(F.when(neq, 1).otherwise(0)).alias("mismatch_rows"),
        F.sum(
            F.when(
                ~F.col("o.text").eqNullSafe(F.col("t.text")), 1
            ).otherwise(0)
        ).alias("text_mismatch_rows"),
    ).collect()[0]
    return {
        "mode": "join",
        "oracle_rows": int(agg["oracle_rows"] or 0),
        "table_rows": int(agg["table_rows"] or 0),
        "joined_rows": agg["joined_rows"],
        "mismatch_rows": int(agg["mismatch_rows"] or 0),
        "text_mismatch_rows": int(agg["text_mismatch_rows"] or 0),
        "columns_compared": required,
    }


def main() -> int:
    total = _env_int("ETL_END_EVENTS", 200_000_000)
    waves = _env_int("ETL_END_WAVES", 10)
    files_per_wave = _env_int("ETL_END_FILES", 10)
    mfpt = _env_int("ETL_END_MFPT", 2)
    convs = _env_int("ETL_END_CONVS", 100_000)
    buckets = _env_int("ETL_END_BUCKETS", 64)
    cpus = _env_int("ETL_END_CPUS", 32)
    work = os.environ.get("ETL_END_WORK", "/dev/shm/etl_endurance")
    # join = full-row null-safe full-outer join (exact row localization;
    # scratch is O(run), proven at 2x10^8); hash = per-wave winner
    # partials + (count, sum, xor) of the canonical row hash (scratch
    # O(wave) — the 10^9+ path)
    verify = os.environ.get("ETL_END_VERIFY", "join")
    # delete binlog files of waves older than the previous one once
    # applied (the checkpoint has consumed them; peak tmpfs stays
    # O(2 waves) instead of O(run))
    prune = _env_int("ETL_END_PRUNE", 0)
    per = total // waves

    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    binlog = os.path.join(work, "binlog")
    os.makedirs(binlog)

    spark = get_spark("endurance", parallelism=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    table = LakeTable.create(
        spark, os.path.join(work, "table"), DDL, num_buckets=buckets
    )
    lineage_dir = os.path.join(work, "lineage")
    ckpt = os.path.join(work, "ckpt")

    wave_rows = []
    last_batch_id = -1
    t_run0 = time.monotonic()
    for w in range(waves):
        t_gen = time.monotonic()
        env = to_envelope(gen_wave(spark, w, per, convs, waves, cpus))
        write_wave_files(env, binlog, w, files_per_wave)
        gen_s = time.monotonic() - t_gen
        if prune and w >= 2:
            # waves <= w-2 are long consumed (the stream drained before
            # wave w-1's files were even written); the checkpoint's file
            # log keeps them from ever being re-listed
            for f in glob.glob(
                os.path.join(binlog, f"batch-w{w - 2:03d}-*.parquet")
            ):
                os.unlink(f)

        # FRESH driver on the SAME checkpoint: a real resume each wave
        driver = StreamDriver(
            spark,
            table,
            binlog,
            ckpt,
            cfg=CdcConfig(num_buckets=buckets),
            max_files_per_trigger=mfpt,
            lineage_dir=lineage_dir,
            compact_every=10,
            retention_every=20,
            retention_keep_last=8,
        )
        t_apply = time.monotonic()
        driver.run_available_now(timeout_s=3600)
        apply_s = time.monotonic() - t_apply
        applied = [s for s in driver.batch_stats if not s.get("skipped")]
        assert applied, f"wave {w}: no batches applied"
        ids = [s["batch_id"] for s in applied]
        assert min(ids) > last_batch_id, (
            f"wave {w}: batch ids {ids} did not advance past {last_batch_id} "
            "(checkpoint resume reprocessed)"
        )
        last_batch_id = max(ids)
        ev_applied = sum(s["n_events"] for s in applied)
        cov = driver.lsn_coverage()

        snap = table.current()
        meta_b = _dir_bytes(table.meta_dir)
        data_b = _dir_bytes(table.data_dir)
        n_versions = len(
            glob.glob(os.path.join(table.meta_dir, "version-*.json"))
        )
        wave_rows.append(
            {
                "wave": w,
                "events": ev_applied,
                "gen_s": round(gen_s, 1),
                "apply_s": round(apply_s, 1),
                "events_per_sec": round(ev_applied / apply_s, 1),
                "batches": len(applied),
                "batch_wall_ms": [s["apply_wall_ms"] for s in applied],
                "batch_cpu_ms": [s.get("apply_cpu_ms") for s in applied],
                "lsn_holes": cov["holes"],
                "missing_in_batch_ranges": cov["missing_in_batch_ranges"],
                "table_version": snap.version,
                "snapshot_files_on_disk": n_versions,
                "n_manifests": len(snap.manifest_list),
                "live_data_files": sum(
                    m["n_files"] for m in snap.manifest_list
                ),
                "live_rows": sum(m["rows"] for m in snap.manifest_list),
                "meta_bytes": meta_b,
                "data_bytes": data_b,
                "schema_cols": len(snap.schema().fields),
            }
        )
        r = wave_rows[-1]
        print(
            f"[wave {w}] {ev_applied:,} ev in {apply_s:.1f}s "
            f"({r['events_per_sec']:,.0f} ev/s) gen {gen_s:.1f}s "
            f"v{snap.version} files={r['live_data_files']} "
            f"meta={meta_b//1024}KiB snaps={n_versions} "
            f"cols={r['schema_cols']}",
            flush=True,
        )
    ingest_wall = time.monotonic() - t_run0

    # ---- lineage totals (audit trail must cover every applied event)
    lin = read_lineage(spark, lineage_dir)
    lin_agg = lin.agg(
        F.sum("n_events").alias("ev"),
        F.countDistinct("batch_id").alias("batches"),
    ).collect()[0]

    # ---- engine-independent verification ---------------------------
    t_or = time.monotonic()
    if verify == "hash":
        verdict = oracle_hash_verdict(
            spark, table, waves, per, convs, cpus, work
        )
    else:
        verdict = oracle_mismatches(spark, table, waves, per, convs, cpus)
    oracle_s = time.monotonic() - t_or

    apply_total_s = sum(r["apply_s"] for r in wave_rows)
    ev_total = sum(r["events"] for r in wave_rows)
    first_half = [r["events_per_sec"] for r in wave_rows[: waves // 2]]
    second_half = [r["events_per_sec"] for r in wave_rows[waves // 2:]]
    out = {
        "events_total": ev_total,
        "waves": waves,
        "batches": sum(r["batches"] for r in wave_rows),
        "parallelism": cpus,
        "buckets": buckets,
        "keys": convs * 32,
        "apply_wall_s": round(apply_total_s, 1),
        "sustained_events_per_sec": round(ev_total / apply_total_s, 1),
        "first_half_median_evps": statistics.median(first_half),
        "second_half_median_evps": statistics.median(second_half),
        "wall_s_total_including_gen": round(ingest_wall, 1),
        "oracle_verify_s": round(oracle_s, 1),
        "lineage_events": int(lin_agg["ev"]),
        "lineage_batches": int(lin_agg["batches"]),
        "verdict": verdict,
        "waves_detail": wave_rows,
    }
    os.makedirs(os.path.join(os.path.dirname(__file__), "..", "BENCH"), exist_ok=True)
    out_path = os.path.join(
        os.path.dirname(__file__), "..", "BENCH", "endurance.json"
    )
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "waves_detail"}))

    ok = (
        verdict["mismatch_rows"] == 0
        and verdict["text_mismatch_rows"] == 0
        and verdict["oracle_rows"] == verdict["table_rows"]
        and out["lineage_events"] == ev_total
    )
    print("ENDURANCE", "PASS" if ok else "FAIL")
    if not os.environ.get("ETL_END_KEEP"):
        shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
