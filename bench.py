"""Benchmark harness: runs headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query materializes fully via the noop sink (forces execution of the
whole plan without measuring result-transfer or disk-write overhead).

Protocol (hardened for this multi-tenant host, where CPU-steal spikes
inflate single runs 3-10x): best-of-N with N=$SPARK_GRAFT_BENCH_RUNS
(default 3) for queries over 0.5 s, early-exit below it, min reported —
the min is the engine, the spread is the host.

Scale validation: when a scaled dataset exists ($SPARK_GRAFT_SF1_DIR,
default .benchdata/sf1 — generate with scripts/gen_sf_scale.py), the
scale-critical subset runs there too with leftover budget and lands in
the same JSON under "sf1" with per-row cost ratios vs the main run
(ratio ≈ 1 means linear scaling; the data is 10× the rows).
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import __spark_entry__ as entrymod

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "agg_argminmax",
    "agg_firstlast",
    "partition_route",
    "union_pad",
    "lookup_enrich",
    "limit_topk",
    "window_running",
    "window_time_range",
    "calendar_window",
    "tumbling_window",
    "sliding_window",
    "session_window",
    "expression_math",
    "select_text_hash",
    "compare_diff",
    "agg_collect",
    "select_misc",
    "create_sequence",
    "agg_stats",
    "multi_input_agg",
    "rollup_agg",
    "pivot_agg",
    "sql_mdt_udfs",
    "tokenize_unnest",
    "dedup_exact",
    "bloom_dedup",
    "topk_words",
    "bpe_train_encode",
    "bpe_wordcounts",
    "profile_documents",
    "asof_join",
    "sessionize",
    "range_join",
    "textstats",
    "ngram_jaccard",
    "similarity_bruteforce",
    "embedding_neardup",
    "embedding_neardup_bucketed",
    "semdedup_prune",
    "multimodal_meta",
    "minhash_pairs",
    "simhash_neardup",
    "dedup_cluster",
    "decontaminate",
    "repetition",
    "substring_cut",
    "shuffle_order",
    "quality_classifier",
    "lsh_topk",
    "ivf_topk",
    "lang_id",
    "sample_split",
    "scrub_pii",
    "pack_sequences",
    "match_recognize",
    "processing_timeseries",
    "deserialize_avro",
    "deserialize_proto",
    "match_recognize_chunked",
    "multimodal_decode",
    "storage_avro_roundtrip",
    "warc_roundtrip",
    "orc_roundtrip",
    "gopher_rules",
    "linear_regression",
    "iceberg_roundtrip",
    "iceberg_mor_roundtrip",
    "bucketed_join",
    "image_codec_roundtrip",
    "audio_roundtrip",
    "html_extract",
    "sentence_split",
    "video_meta",
    "url_normalize",
    "audio_meta",
    "chunk_windows",
    "iceberg_partitioned",
    "delta_skipping",
    "iceberg_skipping",
    "delta_delete",
    "delta_update",
    "iceberg_delete",
    "perplexity_filter",
    "dataset_mix",
    "delta_roundtrip",
    "dsir_scores",
    "delta_dv_read",
    "iceberg_rest",
    "delta_cdf",
    "delta_cm_roundtrip",
    "delta_alter_roundtrip",
    "delta_zorder",
    "delta_replace_where",
    "iceberg_incremental",
    "iceberg_branch_wap",
    "iceberg_evolved_mor",
    "iceberg_cdc_upsert",
    "iceberg_merge_cow",
    "iceberg_merge_mor",
    "iceberg_dv_puffin",
    "iceberg_update",
    "iceberg_changelog",
    "pq_topk",
    # r9 additions
    "ivfpq_topk",
    "convert_roundtrip",
    "localdb_artifact",
    "auxia_events",
    # r10 additions
    "convert_partitioned",
    "iceberg_defaults",
    "delta_type_widening",
    "delta_row_tracking",
    "iceberg_row_lineage",
    "uniform_sync",
    "iceberg_addfiles",
    # r11 additions (streaming_buffered stays correctness-only, like
    # streaming_panes: a micro-batch stream's wall time reads on
    # trigger scheduling overhead, not the engine)
    "iceberg_row_lineage_inherited",
    "uniform_stream",
    "convert_eqdelete",
    # r16 (ADVICE r15 #2): timestamp_combiner was in the sf1 scale list
    # but not the headline suite, so its sf1 run had no sf0.1
    # counterpart and no cost ratio; adding it here (additions are
    # allowed, removals/renames are not) closes that gap
    "timestamp_combiner",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("pipeline_spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus) * 2, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # many distinct codegen'd plans in one JVM exhaust the default
        # 240m JIT code cache -> interpreter fallback -> 5-10x slowdowns
        # late in the run
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    queries = entrymod.queries()

    # warm up the JVM (parquet reader, codegen) AND the Python worker pool
    # (first pandas-UDF stage otherwise pays worker spawn — measured 10-20x
    # on the first UDF query of a session)
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    spark.createDataFrame([(1,)], "x long").selectExpr("x").write.mode(
        "overwrite"
    ).format("noop").save()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    ).write.mode("overwrite").format("noop").save()

    # min of 2 runs per query: this host is multi-tenant and CPU-steal
    # spikes inflate single runs 3-10x; the min reflects the engine.
    # A soft wall-clock budget degrades to single runs (and then to
    # recording what we have) so the JSON line always lands.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "420"))

    # codec-bound rows (per-record gzip in Python workers) track host
    # CPU steal far more than plan-shaped queries do — warc_roundtrip
    # swung >2x round-over-round three times with its code untouched
    # (VERDICT r10 #2).  Two mitigations: (a) min-of-6 warm, exempt
    # from the soft budget and the fast-row early break (bounded: ~12 s
    # total); (b) a same-run pure-CPU gzip calibration recorded in the
    # JSON so cross-round swings can be normalized against how fast
    # THIS run's host compresses at all.
    CODEC_BOUND = {"warc_roundtrip"}
    # r13 (VERDICT r12 ask #4): rows that swung round-over-round with
    # their code untouched (delta_skipping 1.76 -> 1.43 -> 2.50 across
    # r10-r12) sit late in the list, where the soft budget degrades
    # them to single runs — exactly the rows most exposed to steal.
    # Pin them min-of-3: exempt from the soft-budget break AND the
    # fast-row early exit.  Bounded: ~5 rows x <2.5 s x 2 extra runs.
    PINNED_MIN3 = {
        "delta_skipping", "dedup_cluster", "simhash_neardup",
        "chunk_windows",
        # r13 validation run: pq_topk (late-list, ~1.7 s warm min-of-3)
        # drew a 4.5 s single steal-inflated run under the soft budget —
        # the same failure mode as the rows above
        "pq_topk",
        # r14 (VERDICT r13 ask #3): four rows regressed RAW at
        # 1.25-1.40x in r13 with untouched code (all normalized to
        # <=0.90 — host noise, correctly unflagged) but keep consuming
        # attribution time each round; pin them like the rows above
        "agg_collect", "dsir_scores", "dataset_mix", "delta_update",
    }
    codec_runs = int(os.environ.get("SPARK_GRAFT_CODEC_RUNS", "6"))
    import zlib as _zlib

    _calib_buf = bytes(range(256)) * (4 << 10) * 8  # 8 MiB deterministic

    def _codec_calib():
        best = None
        for _ in range(3):
            _t = time.time()
            _zlib.compress(_calib_buf, 6)
            best = min(best or 9e9, time.time() - _t)
        return round(best, 4)

    calib = _codec_calib()

    # r12 (VERDICT r11 ask #2): the codec calibration only normalized
    # warc; the rest of the suite's round-over-round ratios were blind
    # to host drift (r11's top "regressions" were all sub-second rows
    # with untouched code).  A SPARK-side calibration — one fixed
    # shuffle+agg plan, min-of-3 warm — captures JVM/scheduler/steal
    # drift for plan-shaped rows; every artifact records it, and the
    # round-over-round comparison below divides it out.
    def _spark_calib_once():
        _t = time.time()
        (
            spark.range(2_000_000)
            .groupBy((F.col("id") % 97).alias("k"))
            .count()
            .write.mode("overwrite").format("noop").save()
        )
        return round(time.time() - _t, 4)

    def _spark_calib():
        return round(min(_spark_calib_once() for _ in range(3)), 4)

    spark_calib = _spark_calib()

    # r13 second calibration point: a near-empty job measures the FIXED
    # scheduling/planning overhead that dominates sub-second rows and
    # does NOT scale with host throughput — the reason r12's
    # throughput-only normalization over-corrected (VERDICT r12 item
    # #2).  Recorded for attribution; the flag itself now requires
    # raw+normalized agreement.
    def _overhead_calib():
        best = None
        for _ in range(3):
            _t = time.time()
            spark.range(1).write.mode("overwrite").format("noop").save()
            best = min(best or 9e9, time.time() - _t)
        return round(best, 4)

    overhead_calib = _overhead_calib()

    # r14 third calibration point: py4j ROUND-TRIP latency.  Plan-BUILD-
    # bound rows (textstats' dozens of regexp Columns, minhash's column
    # fan-out, DML metadata chains) spend their wall-clock in driver-side
    # Python->JVM calls, which none of the other calibrations see: the
    # shuffle calib measures task throughput, the overhead calib ONE
    # job submit, the codec calib pure Python.  A host where the
    # localhost socket round-trip is ~900us (vs a typical ~100us)
    # slows that whole class ~1.4x with every other calibration flat —
    # exactly the r14 drift-flag pattern (7 sub-2s build-heavy rows
    # raw 1.3-1.5x, suite median 1.02, exec phases flat).
    def _py4j_calib():
        jvm = spark.sparkContext._jvm
        for _ in range(50):
            jvm.java.lang.System.currentTimeMillis()
        best = None
        for _ in range(3):
            _t = time.time()
            for _ in range(200):
                jvm.java.lang.System.currentTimeMillis()
            best = min(best or 9e9, time.time() - _t)
        return round(best, 4)

    py4j_calib = _py4j_calib()

    # previous round's full artifact (committed every round) — the
    # baseline for drift-normalized comparison
    prev_art = None
    try:
        with open(os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH.local.json"
        )) as fh:
            prev_art = json.load(fh)
    except (OSError, ValueError):
        prev_art = None

    bench_start = time.time()
    timings: dict[str, float] = {}
    n_runs: dict[str, int] = {}       # r15 (VERDICT r14 ask #1a): runs
    # actually completed per row — a "1" is a single possibly-cold
    # number the reader must weigh accordingly
    plan_build: dict[str, float] = {}  # r15 (stretch #8): driver-side
    # plan CONSTRUCTION time (fn return, before the noop write) of the
    # row's best run — splits build from execute for the py4j-bound
    # sub-second class whose drift flags rotate run-to-run
    row_moment: dict[str, float] = {}  # offset into the run of the
    # row's best attempt — pairs each row with the calibration sample
    # nearest ITS host moment, not the run's ends
    calib_at_codec = None  # codec calib measured ADJACENT to codec rows
    # r15 (VERDICT r14 ask #1c): a rolling single-shot spark
    # calibration every ~25 s gives the at-the-moment host baseline the
    # codec rows already have (calib_at_codec) to the WHOLE suite —
    # min-of-ends made r14's normalized ratios WORSE than raw when the
    # host ran 1.6x slower at start than end
    calib_timeline: list[tuple[float, float]] = [(0.0, spark_calib)]
    _tl_last = [time.time()]

    def _timeline_tick():
        if time.time() - _tl_last[0] >= 25.0:
            calib_timeline.append(
                (round(time.time() - bench_start, 1), _spark_calib_once())
            )
            _tl_last[0] = time.time()

    def _bench_once(name, fn):
        """One noop-timed run; keeps the row's min and its metadata."""
        t0 = time.time()
        df = fn(spark, sf_dir)
        t_build = time.time() - t0
        df.write.mode("overwrite").format("noop").save()
        elapsed = time.time() - t0
        if name not in timings or elapsed < timings[name]:
            timings[name] = round(elapsed, 3)
            plan_build[name] = round(t_build, 3)
            row_moment[name] = round(t0 - bench_start, 1)
        n_runs[name] = n_runs.get(name, 0) + 1
        return elapsed

    def _wrap_codec(name, fn):
        # normalizing a codec row needs the host's compress speed AT THE
        # MOMENT the row ran, not at run start/end — steal swings 2x
        # within one run (calibration_spread)
        nonlocal calib_at_codec
        c = _codec_calib()
        calib_at_codec = min(calib_at_codec or 9e9, c)
        el = _bench_once(name, fn)
        c = _codec_calib()
        calib_at_codec = min(calib_at_codec, c)
        return el

    def _bench_row(name, fn, force_runs=None):
        """Guard-path re-run helper: up to force_runs more attempts."""
        for _ in range(force_runs or 1):
            _bench_once(name, fn)

    def _max_runs(name):
        if name in CODEC_BOUND:
            return codec_runs
        if name in PINNED_MIN3:
            return max(runs, 3)
        return runs

    # r15 protocol fix (the r14 failure mode, VERDICT r14 What's-wrong
    # #2b, reproduced this session: 28 late-list rows got ONE COLD run
    # once the soft budget was burned by earlier rows): two-phase order.
    # Pass 1 runs EVERY row once, so no row's number is hostage to its
    # list position; the remaining budget then funds round-robin warm
    # re-runs across the whole list until each row has its min-of-N.
    # Per-row semantics are unchanged (min over noop-timed runs of the
    # same queries); only the ORDER in which runs happen moved.
    for name in BENCH_QUERIES:
        _timeline_tick()
        if name in CODEC_BOUND:
            el = _wrap_codec(name, queries[name])
        else:
            el = _bench_once(name, queries[name])
        if el > 5.0 and (time.time() - bench_start) < budget:
            # a >5s first run is usually a steal/JIT artifact: one
            # immediate retry so a spike never stands as a single-run
            # number (bounded: few rows exceed 5s legitimately)
            _bench_once(name, queries[name])
        if (time.time() - bench_start) > budget:
            break  # record what we have rather than losing the line

    # pass 2+: round-robin re-runs, min kept per row.  Fast rows
    # (min < 0.5s) early-exit as before; codec/pinned rows ignore it.
    while (time.time() - bench_start) < budget * 0.85:
        pending = [
            n for n in BENCH_QUERIES
            if n in timings and n_runs.get(n, 0) < _max_runs(n)
            and not (
                timings[n] < 0.5
                and n not in CODEC_BOUND and n not in PINNED_MIN3
            )
        ]
        if not pending:
            break
        for name in pending:
            if (time.time() - bench_start) > budget * 0.85:
                break
            _timeline_tick()
            if name in CODEC_BOUND:
                _wrap_codec(name, queries[name])
            else:
                _bench_once(name, queries[name])

    # host steal swings tens of percent WITHIN one ~15-min run
    # (measured 0.030 -> 0.044 codec calib across 20 min): re-measure
    # both calibrations at the end and normalize by the MIN of the two
    # ends — per-query numbers are min-of-N spread across the run, so
    # the least-stolen moment is the matching baseline
    calib_end = _codec_calib()
    spark_calib_end = _spark_calib()
    overhead_calib = min(overhead_calib, _overhead_calib())
    calib_spread = {
        "codec_start": calib, "codec_end": calib_end,
        "spark_start": spark_calib, "spark_end": spark_calib_end,
    }
    calib = min(calib, calib_end)
    spark_calib = min(spark_calib, spark_calib_end)
    calib_timeline.append(
        (round(time.time() - bench_start, 1), spark_calib_end)
    )
    if calib_at_codec is not None:
        # the codec normalizer IS the at-row measurement (a min taken
        # elsewhere in the run would mismatch the host moment the codec
        # row actually saw); start/end stay visible in the spread
        calib_spread["codec_at_codec_rows"] = calib_at_codec
        calib = round(calib_at_codec, 4)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "pipeline_spark headline queries wall-clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    result["codec_calibration_sec"] = calib
    result["spark_calibration_sec"] = spark_calib
    result["overhead_calibration_sec"] = overhead_calib
    result["py4j_calibration_sec"] = py4j_calib
    result["calibration_spread"] = calib_spread
    # r15 (VERDICT r14 ask #1): per-row observability — runs completed
    # (a 1 is a single possibly-cold number), driver-side plan-build
    # seconds of the best run (the py4j-bound class shows up here, not
    # in execute), and the within-run calibration timeline the at-row
    # normalization draws from
    result["n_runs"] = n_runs
    result["plan_build_sec"] = plan_build
    result["spark_calib_timeline"] = [
        [t, c] for t, c in calib_timeline
    ]
    # drift-normalized round-over-round comparison (VERDICT r11 ask
    # #2): raw ratio vs the previous committed artifact, and the same
    # ratio divided by the calibration drift (spark_calibration for
    # plan rows, codec_calibration for codec rows).  r13 (VERDICT r12
    # item #2): a row is flagged only when RAW AND NORMALIZED both
    # exceed 1.25 — the 2M-row calibration measures throughput, but
    # sub-second rows are dominated by fixed scheduling/planning
    # overhead that does not scale with host speed, so dividing by a
    # fast-host factor over-corrects (r12: ~60 of 119 rows "flagged"
    # while raw ratios clustered at 0.9-1.2).  Agreement of both views
    # is the signal that survives either failure mode: raw-only swings
    # are host load, normalized-only swings are calibration mix.
    def _calib_near(moment):
        """Least-stolen spark calibration sample within ±60 s of the
        row's best run — the host baseline matching the moment the
        row's min was actually measured.  r14 post-mortem: the host ran
        1.6x slower at run START than end, so min-of-ends normalization
        made contended early rows' normalized ratios WORSE than raw
        instead of correcting them (VERDICT r14 ask #1c)."""
        if moment is None or not calib_timeline:
            return None
        near = [c for t, c in calib_timeline if abs(t - moment) <= 60]
        if not near:
            near = [
                min(calib_timeline, key=lambda p: abs(p[0] - moment))[1]
            ]
        return min(near)

    if prev_art and isinstance(prev_art.get("queries"), dict):
        prev_q = prev_art["queries"]
        prev_spark_calib = prev_art.get("spark_calibration_sec")
        prev_codec_calib = prev_art.get("codec_calibration_sec")

        def _compute_drift():
            raw_r: dict[str, float] = {}
            norm_r: dict[str, float] = {}
            for k, v in timings.items():
                pv = prev_q.get(k)
                if not pv or pv <= 0 or v <= 0:
                    continue
                raw = v / pv
                raw_r[k] = round(raw, 2)
                if k in CODEC_BOUND and prev_codec_calib and calib:
                    host = calib / prev_codec_calib
                elif prev_spark_calib and spark_calib:
                    host = (
                        _calib_near(row_moment.get(k)) or spark_calib
                    ) / prev_spark_calib
                else:
                    # pre-r12 artifacts carry only the codec calibration,
                    # and pure-CPU zlib speed is NOT a proxy for plan-shaped
                    # drift (measured moving OPPOSITE directions on this
                    # host): report raw only rather than normalize wrong
                    host = None
                if host:
                    norm_r[k] = round(raw / host, 2)
            flagged = {
                k: {"raw": raw_r.get(k), "normalized": r,
                    "sec": timings[k], "prev_sec": prev_q.get(k),
                    "n_runs": n_runs.get(k)}
                for k, r in norm_r.items()
                if r > 1.25 and (raw_r.get(k) or 0) > 1.25
            }
            return raw_r, norm_r, flagged

        raw_r, norm_r, flagged = _compute_drift()
        # r15 contention guard (VERDICT r14 ask #1b): a contended run
        # must not become the committed artifact unchallenged.  When
        # the run itself shows contention (spark calibration swung
        # >1.3x within the run) OR the flag set is implausibly wide
        # (>=6 rows — the r14 artifact had 44 with an untouched
        # engine), re-run the flagged rows min-of-2 with the soft
        # budget lifted and keep each row's overall min, then
        # recompute the flags.  Bounded by SPARK_GRAFT_GUARD_BUDGET.
        spread_pts = [c for _, c in calib_timeline if c]
        spread_ratio = (
            round(max(spread_pts) / min(spread_pts), 3)
            if spread_pts else 1.0
        )
        guard_info: dict = {
            "spark_calib_spread_within_run": spread_ratio,
            "triggered": False,
        }
        if flagged and (spread_ratio > 1.3 or len(flagged) >= 6) and (
            os.environ.get("SPARK_GRAFT_BENCH_GUARD", "1") != "0"
        ):
            guard_budget = float(
                os.environ.get("SPARK_GRAFT_GUARD_BUDGET", "150")
            )
            guard_start = time.time()
            reruns: dict[str, dict] = {}
            # worst flagged first, so the guard budget goes to the rows
            # that most distort the round-over-round story
            for k in sorted(
                flagged, key=lambda x: -(flagged[x].get("raw") or 0)
            ):
                if time.time() - guard_start > guard_budget:
                    guard_info["note"] = (
                        "guard budget exhausted; remaining flagged rows "
                        "keep their pre-guard numbers"
                    )
                    break
                before = timings[k]
                _timeline_tick()
                _bench_row(k, queries[k], force_runs=2)
                timings[k] = round(min(before, timings[k]), 3)
                reruns[k] = {
                    "pre_guard_sec": before, "post_guard_sec": timings[k]
                }
            guard_info.update(
                triggered=True,
                reason=(
                    f"calib spread {spread_ratio}x within run"
                    if spread_ratio > 1.3
                    else f"{len(flagged)} rows flagged"
                ),
                reruns=reruns,
                rerun_sec=round(time.time() - guard_start, 1),
            )
            raw_r, norm_r, flagged = _compute_drift()
            total = round(sum(timings.values()), 3)
            result["value"] = total
        result["drift"] = {
            "prev_spark_calibration_sec": prev_spark_calib,
            "prev_codec_calibration_sec": prev_codec_calib,
            "host_factor_spark": (
                round(spark_calib / prev_spark_calib, 3)
                if prev_spark_calib and spark_calib else None
            ),
            "raw_ratio_vs_prev": raw_r,
            "normalized_ratio_vs_prev": norm_r,
            "flagged_raw_and_normalized_over_1_25x": flagged,
            "contention_guard": guard_info,
        }
    result["notes"] = (
        "warc_roundtrip is codec-bound (per-record gzip in Python "
        "workers) and tracked host CPU steal across rounds: 1.43 (r7) "
        "-> 2.19 (r8) -> 0.96 warm (r9, after the real numShards+gzip-6 "
        "fix) -> 1.53 (r10) with code untouched. Since r11 it is "
        "measured min-of-6 warm, exempt from the soft-budget and "
        "fast-row early exits, and every run records "
        "codec_calibration_sec = min-of-3 pure-CPU zlib.compress of a "
        "fixed 8 MiB buffer at level 6 on this host. To compare "
        "warc_roundtrip across rounds, divide by that round's "
        "calibration: a swing that disappears after normalization is "
        "host load, not the engine. Since r12 the same protocol covers "
        "the WHOLE suite: spark_calibration_sec (min-of-3 of a fixed "
        "2M-row shuffle+agg plan) is the plan-shaped host baseline, "
        "and 'drift' records raw and calibration-normalized "
        "round-over-round ratios vs the previous committed artifact, "
        "flagging only rows whose normalized ratio exceeds 1.25. "
        "iceberg_changelog_read attribution (r11 watch item, ratio "
        "1.41): the added-delete resolution rebuilt the FULL prior "
        "live state per interval — O(table) for a fixed delete batch — "
        "and the probe was a single cold run; r12 prunes the prior "
        "state to the files the batch can touch (positions name their "
        "files, equality keys bound via manifest stats) and times the "
        "idempotent dml read probes min-of-3 — the ratio pins at ~1.0. "
        "delta_skipping attribution (r13, VERDICT r12 item #3: 1.76 -> "
        "1.43 -> 2.50 s across rounds on untouched code): profiled "
        "phases at sf0.1 are writes 1.21 s (three sequential one-file "
        "delta commits that BUILD the fixture table) + skipping plan "
        "0.05 s + pruned agg 0.18 s warm — 84% of the row is fixture "
        "construction, fixed-cost and steal-exposed, while the "
        "stats-skipping read it nominally measures is 50 ms and flat. "
        "The swings were single cold runs of the write phase; the row "
        "is min-of-3 since r13 (PINNED_MIN3). The same class covers "
        "delta_row_tracking (phases warm: write 0.9 + append 1.0 + "
        "optimize 1.3 + dv-delete 0.3 + withRowIds read 1.0 s) and "
        "iceberg_row_lineage — write->DML->derive roundtrips whose "
        "wall-clock is fixture construction and per-commit job "
        "overhead, not the derivation they nominally measure. "
        "uniform_stream attribution (r13, ask #7): see "
        "uniform_stream_breakdown in this artifact — a plain-delta twin "
        "stream (same files/cadence) isolates the per-batch iceberg "
        "mirror sync by subtraction; measured within host noise "
        "(~0.02 s per 2-batch drain), so the row's wall-clock is "
        "micro-batch trigger scheduling plus the dual-surface "
        "read/resume phases, each O(batch). "
        "buffered_pane_microbench times a twin streaming pair "
        "(identical stream/cadence, buffered vs scalar aggs) so "
        "scheduling overhead cancels: the paneAllowUnboundedState "
        "opt-in's keyed-state cost measures within host noise "
        "(0.88-1.09x across runs) at bench scale; it scales O(window "
        "rows) per key by design, which is why it is opt-in. "
        "iceberg_rewrite_manifests dml-scale attribution (r14, closing "
        "the two-round watch note): the 2.0x ratio at 10x table size is "
        "BY DESIGN — rewrite_manifests reads and rewrites every "
        "manifest entry, so its cost is proportional to manifest-entry "
        "count (the 10x table carries ~2x the manifest entries after "
        "the fixed DML sequence), at 5 -> 10 ms ABSOLUTE: pure metadata "
        "work, no data-file I/O, and the per-entry cost is flat. A "
        "ratio near table-growth is the correct shape for a "
        "whole-metadata maintenance op; a flat ratio would mean the op "
        "skipped manifests it was asked to rewrite. Since r14 "
        "agg_collect/dsir_scores/dataset_mix/delta_update are "
        "PINNED_MIN3 (r13 raw swings 1.25-1.40x on untouched code, all "
        "normalized <=0.90 — the delta_skipping steal class). "
        "Plan-BUILD-bound attribution (r14): each r14 run flagged a "
        "DIFFERENT handful of sub-2s rows at 1.3-1.8x raw vs the r13 "
        "artifact (run A: gopher_rules/calendar_window/rollup_agg/"
        "minhash_pairs/...; run B: select_text_hash/html_extract/"
        "video_meta/audio_meta/...) with code untouched and the suite "
        "median pinned at ~1.02 — flag membership ROTATES within one "
        "class while the class itself is stable. Phase profiling shows "
        "that class's wall-clock sits in driver-side plan CONSTRUCTION "
        "(e.g. gopher_rules steady-state: build 0.26s + exec 0.21s, vs "
        "the whole r13 row at 0.27s) — hundreds of Python->JVM py4j "
        "calls building Columns/metadata, a cost none of the prior "
        "calibrations see (shuffle calib = task throughput, overhead "
        "calib = ONE job submit, codec calib = pure Python). This "
        "host's py4j round-trip measures ~0.9 ms warm (vs a typical "
        "~0.1 ms) and jitters with load; py4j_calibration_sec "
        "(min-of-3 of 200 warm JVM calls) is recorded in every "
        "artifact since r14. Attribution rule: a sub-2s flag whose row "
        "is build-heavy and whose membership was not flagged in the "
        "round's OTHER runs is this class — check py4j_calibration_sec "
        "before calling it a regression. "
        "r15 protocol (VERDICT r14 ask #1, after the contended r14 "
        "artifact): (a) n_runs records runs completed per row — a 1 is "
        "a single possibly-cold number; (b) plan-shaped normalization "
        "uses the spark calibration sample NEAREST each row's best-run "
        "moment (spark_calib_timeline, one single-shot sample every "
        "~25 s) instead of min-of-ends, which made contended early "
        "rows' normalized ratios WORSE than raw in r14; (c) a "
        "contention guard re-runs the flagged rows min-of-2 with the "
        "soft budget lifted whenever the within-run calibration spread "
        "exceeds 1.3x or >=6 rows flag, keeping each row's overall min "
        "and recomputing the flags — drift.contention_guard records "
        "what it did; (d) plan_build_sec splits driver-side plan "
        "construction from execution for the py4j-bound sub-second "
        "class."
    )
    full_result = result

    # scale pass: scale-critical queries on the 10× dataset with whatever
    # budget remains.  Best-of-2 when budget allows: a single run conflates
    # cold-start (fresh shuffle files, JIT, page cache) with the engine —
    # measured 50 s cold vs 6 s warm on the same ngram_jaccard plan.
    sf1_dir = os.environ.get(
        "SPARK_GRAFT_SF1_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), ".benchdata", "sf1"),
    )
    # The scale phases gate on time measured from the END of the main
    # phase, each keeping its proportional allowance of the soft budget
    # (0.5x for sf1, then 0.6x/0.9x for the DML legs and the last two
    # sections), so a main phase that overran still lands the scaling
    # sections in the same artifact.  sf1 is generated once
    # (scripts/gen_sf_scale.py, SF1_FACTOR x the main SF) when missing,
    # before the scale clock starts.
    scale_factor = float(os.environ.get("SPARK_GRAFT_SF1_FACTOR", "10"))
    if not os.path.isdir(sf1_dir):
        import subprocess

        gen = subprocess.run(
            [sys.executable,
             os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "scripts", "gen_sf_scale.py"),
             "--src", sf_dir, "--k", str(int(scale_factor)),
             "--out", sf1_dir],
            capture_output=True, text=True,
        )
        if gen.returncode != 0:
            print(f"sf1 generation failed: {gen.stderr[-2000:]}",
                  file=sys.stderr)
    scale_start = time.time()

    def scale_elapsed() -> float:
        return time.time() - scale_start

    scale_queries = [
        "q1_pricing_summary", "q3_shipping_priority", "agg_stats",
        "dedup_exact", "dedup_cluster", "ngram_jaccard", "minhash_pairs",
        "tokenize_unnest", "lsh_topk", "match_recognize",
        "match_recognize_chunked", "linear_regression", "html_extract",
        "perplexity_filter", "dsir_scores", "dataset_mix",
        # r4 operators added per VERDICT r4 #8 — all scale-critical
        "asof_join", "range_join", "sessionize", "topk_words",
        "bloom_dedup", "substring_cut", "semdedup_prune",
        # r14 (VERDICT r13 stretch #8): the rest of the ANN family —
        # the coarse-quantizer (ivf) and LUT (pq/ivfpq) paths get the
        # same sub-linear proof lsh_topk already has
        "ivf_topk", "pq_topk", "ivfpq_topk",
        # r14: the two-stage combiner query (3 branches x 2 windowed
        # aggs) — windowed-agg scaling proof for the new knob
        "timestamp_combiner",
        # r16 (VERDICT r15 stretch #9): scaling ratios of record for the
        # r15-optimized lang_id shape (agg_stats, ngram_jaccard and
        # substring_cut are already above)
        "lang_id",
    ]
    if os.path.isdir(sf1_dir):
        sf1_timings: dict[str, float] = {}
        ratios: dict[str, float] = {}
        for name in scale_queries:
            if scale_elapsed() > budget * 0.5:
                break
            best = None
            for _ in range(2):
                t0 = time.time()
                df = queries[name](spark, sf1_dir)
                df.write.mode("overwrite").format("noop").save()
                took = time.time() - t0
                best = took if best is None else min(best, took)
                # re-run only while budget holds and the first run was slow
                # enough for cold-start to matter
                if took < 2.0 or scale_elapsed() > budget * 0.4:
                    break
            sf1_timings[name] = round(best, 3)
            base = timings.get(name)
            if base and base > 0:
                ratios[name] = round(sf1_timings[name] / (base * scale_factor), 2)
        result["sf1"] = {
            "dir": sf1_dir,
            "total": round(sum(sf1_timings.values()), 3),
            "queries": sf1_timings,
            "per_row_cost_ratio_vs_main": ratios,
        }

    # DML blast-radius probe (r8, VERDICT r7 ask #8): a FIXED-size keyed
    # mutation batch against the 10× table.  File-scoped COW merge, DV
    # delete, equality-delete upsert, and the metadata-only ops must
    # scale FAR below linearly in TABLE size — t(sf1)/t(sf0.1) ≈ 1 means
    # the blast radius is the batch, not the table (ratio 10 would mean
    # whole-table rewrites).  Tables are written key-clustered
    # (repartitionByRange), the layout the sort-order/clusterBy features
    # exist to maintain.
    if os.path.isdir(sf1_dir) and scale_elapsed() < budget * 0.6:
        import shutil
        import tempfile

        from pipeline_spark.sinks.delta_native import (
            delete_delta_native,
            merge_delta_native,
            write_delta_native,
        )
        from pipeline_spark.sinks.iceberg_native import (
            alter_iceberg_native,
            clone_iceberg_native,
            delete_iceberg_native,
            merge_iceberg_native,
            rewrite_manifests_iceberg_native,
            update_iceberg_native,
            upsert_iceberg_native,
            write_iceberg_native,
        )
        from pipeline_spark.sinks.tableconvert import convert_delta_to_iceberg
        from pipeline_spark.sources.iceberg_native import (
            find_table_metadata,
            read_iceberg_changelog,
            read_iceberg_native,
        )

        def _t(fn):
            t0 = time.time()
            fn()
            return round(time.time() - t0, 3)

        def _tmin(fn, n=3):
            # read probes are idempotent — min-of-N like the main
            # suite (VERDICT r11 ask #3: the r11 changelog_read 1.41
            # "drift" was a single cold run); mutations stay single-run
            # (a second merge/delete does different work)
            return min(_t(fn) for _ in range(n))

        base = os.path.join(tempfile.gettempdir(), "ps_dml_probe")
        dml: dict[str, dict[str, float]] = {}
        for sf_label, sf_d in (("sf0.1", sf_dir), ("sf1", sf1_dir)):
            if scale_elapsed() > budget * 0.9:
                break  # record the legs that fit; the line must land
            docs = spark.read.parquet(f"{sf_d}/documents.parquet").select(
                "doc_id", "lang", "n_chars"
            )
            # constant FILE SIZE, scaled FILE COUNT (how real tables
            # grow): a fixed 16-file layout at both scales made sf1
            # files 10× larger, so the fixed-batch probe/rewrite read
            # 10× the bytes per touched file and delta_merge_cow
            # drifted to 1.4× in r9 — the table layout was the
            # artifact, not the operator's blast radius
            nparts = 16 if sf_label == "sf0.1" else 160
            clustered = docs.repartitionByRange(nparts, "doc_id")
            batch = docs.where(F.col("doc_id") < 500).withColumn(
                "__op__",
                F.when(F.col("doc_id") % 2 == 0, F.lit("UPSERT"))
                .otherwise(F.lit("DELETE")),
            )
            d: dict[str, float] = {}
            dt = os.path.join(base, f"delta_{sf_label}")
            shutil.rmtree(dt, ignore_errors=True)
            write_delta_native(spark, clustered, {"path": dt})
            d["delta_merge_cow"] = _t(lambda: merge_delta_native(
                spark, batch, {"path": dt, "primaryKeys": ["doc_id"]}))
            d["delta_delete_dv"] = _t(lambda: delete_delta_native(
                spark, {"path": dt, "method": "mor", "where": [
                    {"key": "doc_id", "op": "<", "value": 250}]}))
            it = os.path.join(base, f"ice_{sf_label}")
            shutil.rmtree(it, ignore_errors=True)
            write_iceberg_native(clustered, {"path": it, "mode": "create"})
            d["iceberg_merge_cow"] = _t(lambda: merge_iceberg_native(
                spark, batch, {"path": it, "primaryKeys": ["doc_id"]}))
            # min-of-3 (VERDICT r12 item #3: 1.87 ratio on untouched
            # code) WITHOUT polluting table state: each timed run
            # upserts into a fresh metadata CLONE of `it` (identical
            # state, milliseconds to make), then ONE real upsert lands
            # on `it` so every downstream probe sees the same
            # one-upsert table shape as prior rounds' artifacts
            def _upsert_once():
                ct0 = os.path.join(base, f"upclone_{sf_label}")
                shutil.rmtree(ct0, ignore_errors=True)
                clone_iceberg_native(spark, {"source": it, "path": ct0})
                t0 = time.time()
                upsert_iceberg_native(
                    spark, batch, {"path": ct0, "primaryKeys": ["doc_id"]})
                return round(time.time() - t0, 3)

            d["iceberg_upsert_mor"] = min(_upsert_once() for _ in range(3))
            # the last clone is bench-workspace garbage once timed
            # (ADVICE r13): reclaim it so rounds don't accumulate a full
            # metadata+data copy each
            shutil.rmtree(
                os.path.join(base, f"upclone_{sf_label}"), ignore_errors=True
            )
            upsert_iceberg_native(
                spark, batch, {"path": it, "primaryKeys": ["doc_id"]})
            d["iceberg_update_cow"] = _t(lambda: update_iceberg_native(
                spark, {"path": it,
                        "where": [{"key": "doc_id", "op": "<",
                                   "value": 250}],
                        "set": {"n_chars": "n_chars + 1"}}))
            # r9 (VERDICT r8 ask #5): puffin-DV delete + a FIXED-RANGE
            # changelog read (only the DV-delete snapshot) on the 10×
            # table — both must track the batch, not the table
            before_dv = json.load(
                open(find_table_metadata(it)))["current-snapshot-id"]
            d["iceberg_delete_dv_puffin"] = _t(lambda: delete_iceberg_native(
                spark, {"path": it, "format": "puffin", "where": [
                    {"key": "doc_id", "op": ">=", "value": 250},
                    {"key": "doc_id", "op": "<", "value": 500}]}))
            d["iceberg_changelog_read"] = _tmin(lambda: read_iceberg_changelog(
                spark, {"path": it, "fromSnapshotId": before_dv}).count())
            d["iceberg_rewrite_manifests"] = _t(
                lambda: rewrite_manifests_iceberg_native(
                    spark, {"path": it}))
            # r10: UniForm per-commit sync cost — a FIXED batch append
            # on a synced table must cost O(batch) (the incremental
            # chained-snapshot path), not O(live files)
            ut = os.path.join(base, f"uniform_{sf_label}")
            shutil.rmtree(ut, ignore_errors=True)
            write_delta_native(spark, clustered, {
                "path": ut, "properties": {
                    "delta.universalFormat.enabledFormats": "iceberg"}})
            ubatch = docs.where(F.col("doc_id") < 500).coalesce(2)
            d["uniform_append_sync"] = _t(lambda: write_delta_native(
                spark, ubatch, {"path": ut, "mode": "append"}))
            ct = os.path.join(base, f"clone_{sf_label}")
            shutil.rmtree(ct, ignore_errors=True)
            d["iceberg_clone"] = _t(lambda: clone_iceberg_native(
                spark, {"source": it, "path": ct}))
            # r11 (VERDICT r10 ask #5): READ-path probes for the r10
            # surfaces against the 10x-FILE table, each pruned to a
            # FIXED doc_id slice so the timing reads on planning plus
            # the O(files) broadcast fill/derive — NOT on table bytes.
            # ratio ≈ 1 means the metadata walks scale with the batch.
            # (a) identity-fill scan: partitioned delta -> iceberg
            # conversion leaves files that never materialized their
            # partition column; the reader fills per spec Column
            # Projection #2
            ft = os.path.join(base, f"fill_{sf_label}")
            shutil.rmtree(ft, ignore_errors=True)
            write_delta_native(spark, clustered, {
                "path": ft, "partitionBy": ["lang"]})
            convert_delta_to_iceberg(spark, {"path": ft})
            d["identity_fill_read"] = _tmin(lambda: read_iceberg_native(
                spark, {"path": ft, "dataFilter": {
                    "key": "doc_id", "op": "<", "value": 500}},
            ).groupBy("lang").count().collect())
            # (b) withRowIds derivation: one broadcast of O(files)
            # (path, first_row_id) rows onto the pruned scan
            vt = os.path.join(base, f"v3_{sf_label}")
            shutil.rmtree(vt, ignore_errors=True)
            write_iceberg_native(clustered, {
                "path": vt, "mode": "create",
                "properties": {"format-version": "3"}})
            d["rowids_read"] = _tmin(lambda: read_iceberg_native(
                spark, {"path": vt, "withRowIds": True, "dataFilter": {
                    "key": "doc_id", "op": "<", "value": 500}},
            ).agg(F.sum("_row_id")).collect())
            # (c) evolved default-padded scan: every pre-ALTER file
            # null-pads to the v3 initial-default at read
            alter_iceberg_native(spark, {"path": vt, "addColumn": {
                "name": "tier", "type": "string",
                "default": "standard"}})
            d["default_padded_read"] = _tmin(lambda: read_iceberg_native(
                spark, {"path": vt, "dataFilter": {
                    "key": "doc_id", "op": "<", "value": 500}},
            ).groupBy("tier").count().collect())
            dml[sf_label] = d
        if dml:
            result["dml_scale"] = {
                "fixed_batch_keys": 500,
                "table_size_ratio": 10.0,
                # metadata-only ops (rewrite_manifests, clone) time in
                # MILLISECONDS and scale with FILE COUNT (10x here by
                # layout design) — their ratio reads on metadata volume,
                # not data blast radius; judge them on the absolute
                # timings alongside the ratio
                "timings": dml,
                "t_sf1_over_t_sf01": {
                    k: round(dml["sf1"][k] / max(dml["sf0.1"][k], 1e-3), 2)
                    for k in dml.get("sf1", {})
                },
            }

    # r12 (VERDICT r11 ask #6): measured cost of the opt-in buffered
    # pane backend next to the O(1) scalar default.  streaming_buffered
    # itself stays correctness-only (a micro-batch stream's wall time
    # reads on trigger scheduling) — so time a TWIN PAIR: identical
    # stream, cadence, and key space; only the agg set differs.  The
    # scheduling overhead cancels in the delta, which is what
    # paneAllowUnboundedState's O(rows) keyed state actually costs.
    # 0.9x: the same overshoot ceiling as the dml legs — this is the
    # LAST section before the artifact lands, so an external kill here
    # would lose the whole line
    if scale_elapsed() < budget * 0.9 and hasattr(
        entrymod, "stream_pane_bench_run"
    ):
        pane_bench: dict[str, float] = {}
        for label, buffered in (("scalar", False), ("buffered", True)):
            best = None
            for _ in range(2):
                t0 = time.time()
                entrymod.stream_pane_bench_run(spark, sf_dir, buffered)
                took = time.time() - t0
                best = took if best is None else min(best, took)
            pane_bench[f"{label}_sec"] = round(best, 3)
        pane_bench["buffered_over_scalar"] = round(
            pane_bench["buffered_sec"] / max(pane_bench["scalar_sec"], 1e-3),
            2,
        )
        result["buffered_pane_microbench"] = pane_bench

    # r13 (VERDICT r12 ask #7): uniform_stream is the slowest bench row
    # (4.93 s in r12) — break it down per stage.  A twin stream on a
    # PLAIN delta table (same files, same 1-file-per-trigger cadence)
    # isolates the per-micro-batch iceberg mirror sync by subtraction;
    # the iceberg reads are timed separately.  Same last-section
    # budget ceiling as the pane microbench.
    if scale_elapsed() < budget * 0.9 and hasattr(
        entrymod, "uniform_stream_stage_breakdown"
    ):
        try:
            result["uniform_stream_breakdown"] = (
                entrymod.uniform_stream_stage_breakdown(spark, sf_dir)
            )
        except Exception as exc:  # noqa: BLE001 — diagnostics must not
            result["uniform_stream_breakdown"] = {"error": str(exc)[:200]}

    # The driver records only a ~2 KB tail of stdout: the full artifact
    # (every query, sf1 map, ratios) goes to BENCH.local.json; the printed
    # line is a compact summary guaranteed to fit the capture so the
    # driver's "parsed" field is never null.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH.local.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(full_result, fh, indent=1)

    top = dict(
        sorted(
            ((k, round(v, 2)) for k, v in timings.items()),
            key=lambda kv: -kv[1],
        )[:20]
    )
    compact = {
        "metric": full_result["metric"],
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "queries": top,
        "detail": "BENCH.local.json",
        # same-run pure-CPU gzip baseline: divide codec-bound rows
        # (warc_roundtrip, min-of-6 warm since r11) by this to separate
        # host load from engine regressions across rounds
        "codec_calibration_sec": full_result.get("codec_calibration_sec"),
        "spark_calibration_sec": full_result.get("spark_calibration_sec"),
        "overhead_calibration_sec": full_result.get(
            "overhead_calibration_sec"),
        "py4j_calibration_sec": full_result.get("py4j_calibration_sec"),
        "warc_roundtrip_sec": timings.get("warc_roundtrip"),
    }
    if "drift" in result:
        dr = result["drift"]
        compact["drift"] = {
            "host_factor_spark": dr["host_factor_spark"],
            "n_flagged_raw_and_normalized_over_1_25x": len(
                dr["flagged_raw_and_normalized_over_1_25x"]
            ),
            # cap at the 8 worst: r12's over-broad flag list alone blew
            # the driver's ~2 KB stdout tail capture
            "flagged": dict(sorted(
                (
                    (k, v["normalized"])
                    for k, v in
                    dr["flagged_raw_and_normalized_over_1_25x"].items()
                ),
                key=lambda kv: -kv[1],
            )[:8]),
            "contention_guard": {
                k: dr.get("contention_guard", {}).get(k)
                for k in ("triggered", "reason",
                          "spark_calib_spread_within_run")
            },
        }
    if "buffered_pane_microbench" in result:
        compact["buffered_pane_microbench"] = result[
            "buffered_pane_microbench"
        ]
    if "sf1" in result:
        ratios = result["sf1"]["per_row_cost_ratio_vs_main"]
        compact["sf1"] = {
            "total": result["sf1"]["total"],
            "n": len(result["sf1"]["queries"]),
            "max_ratio": max(ratios.values()) if ratios else None,
        }
    if "dml_scale" in result:
        # fixed-batch DML vs the 10× table: ≈1 = blast radius is the
        # batch, not the table; 10 would mean whole-table rewrites
        compact["dml_scale_t_sf1_over_t_sf01"] = result["dml_scale"][
            "t_sf1_over_t_sf01"
        ]
    print(json.dumps(compact))
    # r13 (VERDICT r12 item #4): the driver keeps only a 2000-byte
    # stdout TAIL and parses the LAST JSON line; r12's compact line
    # alone outgrew it — BENCH_r12.json recorded parsed: null.
    # r16 (VERDICT r15 ask #1): the parsed line must carry a per-query
    # seconds map again (absent since ~r13, which emptied the driver's
    # per_query round-over-round and low-core scaling tables).  The
    # FULL 119-name map serializes to ~2.8 KB — names alone exceed the
    # 2000-byte tail, so a complete map would truncate the line's HEAD
    # and lose the whole parse (the r12 failure mode).  Compromise:
    # pack entries most-expensive-first until a hard byte budget; the
    # sub-second tail left out is the plan-build-floor class whose
    # round-over-round story the drift section already tells, and the
    # complete map is committed in BENCH.local.json.  n_queries vs
    # len(queries) signals the truncation explicitly.
    headline = {
        "metric": full_result["metric"],
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "queries": {},
        "spark_calibration_sec": full_result.get("spark_calibration_sec"),
        "codec_calibration_sec": full_result.get("codec_calibration_sec"),
        "n_flagged": len(
            result.get("drift", {}).get(
                "flagged_raw_and_normalized_over_1_25x", {})
        ) if "drift" in result else None,
        "detail": "BENCH.local.json",
    }
    line_budget = int(os.environ.get("SPARK_GRAFT_TAIL_BUDGET", "1900"))
    for k, v in sorted(timings.items(), key=lambda kv: (-kv[1], kv[0])):
        trial = dict(headline["queries"])
        trial[k] = round(v, 2)
        cand = dict(headline, queries=trial)
        if len(json.dumps(cand, separators=(",", ":"))) > line_budget:
            continue  # a shorter-named smaller row may still fit
        headline["queries"] = trial
    print(json.dumps(headline, separators=(",", ":")))


if __name__ == "__main__":
    main()
