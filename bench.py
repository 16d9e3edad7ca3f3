"""Benchmark harness — warm-session per-query wall times vs BASELINE.md.

Runs the HEADLINE set (BASELINE.md rows + one representative per
extension pillar) plus the full-invocation PIPELINES set at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line::

    {"metric": "warm_query_total", "value": <sum of headline medians>,
     "pipeline_total": <sum of full-invocation PIPELINES medians>,
     "unit": "sec", "queries": {name: median_sec, ...}, "sf": 0.1, ...}

``value`` covers the collect()-timed headline set only; the
full-invocation maintainer jobs (PIPELINES) report separately as
``pipeline_total`` so both trends stay readable round-over-round.

Method (mirrors BASELINE.md §Method so the 2× bar is apples-to-apples):
- timing = ``time.perf_counter()`` around ``df.collect()`` (DuckDB baseline
  timed ``fetchall()``), 1 untimed warm-up run then median of RUNS
  (default 5); per-query minimums recorded beside the medians.
- warm session: one tuned SparkSession for the whole run; the normalized
  events scan is persisted once (io.cache_events) and shared by all
  queries — the 100 TB analog of a materialized normalized table.
- overhead adjustment: BASELINE.md requires absolute AND overhead-adjusted
  numbers. ``floor`` = median wall time of a trivial 1-row job (pure
  scheduling+planning cost, ~0.05-0.3 s in local mode); ``queries_adj``
  subtracts it per query. At sf0.1 Spark's fixed per-query floor dominates
  several sub-10 ms-in-DuckDB queries; the adjusted number is the one that
  extrapolates to cluster scale.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: the full width; a record without a ``cpus`` field was run at it
DEFAULT_CPUS = 32
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", str(DEFAULT_CPUS)))
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))

# Headline queries: the BASELINE.md-measured set plus one representative
# per extension pillar. Streaming entries are excluded — their execution
# happens inside fn() (a finite streaming job), so collect()-timing them
# measures nothing; their correctness gate is CORRECTNESS_r{N}.
HEADLINE = [
    # BASELINE.md rows
    "hot_items_topn",
    "hot_items_topn_direct",  # textbook F.window twin, benched beside the flagship
    "pv_hourly",
    "uv_hourly",
    "uv_approx",
    "count_by_channel_behavior",
    "blacklist",
    "consec_fail",
    "order_timeout",
    "interval_join",
    "tpch_q1ish",
    # extension pillars (text / dedup / similarity / multimodal)
    "dedup_exact_events",
    "clean_corpus",
    "token_counts",
    "tfidf_top_term",
    "knn_topk",
    "ngram_jaccard_pairs",
    "minhash_near_dup",
    "simhash64",
    "binary_features",
    "pii_scrub",            # map-only regex scrub over the full events scan
    "quantize_embeddings",  # map-only array-expression quantization
    # r5 additions (one rep per new pillar op)
    "normalize_text",       # map-only canonical-form pass
    "source_mix_sample",    # token-budget quota fill (single source-window)
    "dedup_incremental",    # fingerprint anti-join vs corpus index
    "passage_scrub",        # passage-frequency scrub + ordered reassembly
    "unigram_surprisal",    # self-trained unigram-LM scoring pass
    "chunk_documents",      # map-only sliding context chunker
    # behavior pillar (sessionized sort-heavy + join-heavy reps)
    "session_paths_topk",   # gap-island sessions + 3-gram leads + rank
    "ad_attribution",       # horizon-bounded user join + per-purchase windows
    "rfm_segments",         # histogram-quantile segmentation
    "dwell_gaps",           # sessionized lead gaps
    # r6 additions
    "gopher_quality_filter",  # one-pass tf rollup + gate bitmap
    "tpch_q3ish",             # broadcast-dim + fact-fact join, top-10
    "tpch_q13ish",            # outer join + double aggregation
    "corpus_shuffle_order",   # sharded permutation: 64 independent sorts
    # r7 additions
    "tpch_q9ish",             # three-fact join over the derived partsupp
    "user_trailing_features", # per-event RANGE-frame feature generation
    "uv_trailing_sketch",     # hourly-sketch fan-out trailing UV
    "dup_span_scrub",         # stride-1 gram ExactSubstr scrub + reassembly
    # r8 additions
    "count_by_channel_report",  # presentation twin (the old benched surface)
    "cdc_apply",                # LWW changelog compaction (struct-max argmax)
    "item_triangles",           # degree-oriented wedge join triangle count
    "eval_holdout_sample",      # WindowGroupLimit fixed-K holdout
    "dup_spans",                # ExactSubstr detect w/ counting-sketch prefilter
    "active_users_trailing",    # exact DAU/WAU coverage explode
    "corpus_drift",             # snapshot volume + novel-token monitor
    # r9 additions
    "term_blocklist",           # broadcast wordlist gate (lazy map+agg)
    "audio_features",           # WAV decode + numpy windowed energy/peak
    "thumbnail",                # nearest-neighbor resize over real decodes
    "video_frames",             # AVI container walk + frame sampling
    "jpeg_roundtrip",           # baseline T.81 encode+decode, bounded error
    "value_percentiles_hist",   # merged daily histogram -> quantile pick
    "decode_meta_mixed3",       # three-codec dispatch over one column
    # r10 additions
    "jpeg_color_roundtrip",     # YCbCr 4:2:0 color encode+decode, bounded error
    "jpeg_progressive_roundtrip",  # SOF2 successive approximation, = baseline pixels
    "decode_meta_mixed4",       # four-encoding dispatch (incl. color JPEG)
    "value_percentiles_ddsketch",  # log-gamma summary -> quantile pick
    "gif_roundtrip",            # GIF89a LZW encode+decode, bit-exact rows
    # late-r10 additions (search pillar + compressed A/V codecs)
    "fts_topk",                 # inverted-index conjunctive retrieval, int tf-idf
    "phrase_search",            # positional vote-counting phrase match
    "edit_dup_pairs",           # PassJoin pigeonhole edit-distance join
    "term_stats_maintain",      # mergeable term-dictionary merge
    "audio_features_mulaw",     # G.711 compress+expand, windowed features
    "audio_features_alaw",      # the Annex-A sibling
    "adpcm_roundtrip",          # IMA ADPCM cross-stream vectorized roundtrip
    "video_frames_mjpeg",       # MJPEG AVI walk + per-frame T.81 decode
    # r11 additions: the retrieval-mode family + persisted-index
    # probes. The *_indexed/_maintained rows time the PROBE with the
    # nightly build memoized (the index materializes once in the warm
    # pass — the ingest_accept_batch_indexed cost-split contract).
    "fts_topk_indexed",         # persisted term-partitioned index probe
    "fts_topk_maintained",      # base ∪ overlay probe, SUM-merged dict
    "fts_topk_compacted",       # segment-merged single-tree probe (r12b)
    "fts_topk_any",             # disjunctive (match-any) retrieval
    "fts_prefix_topk",          # dictionary-expanded prefix retrieval
    "fts_fuzzy_topk",           # planning-time fuzzy expansion + fuzzy-AND
    "hybrid_topk",              # RRF fusion of lexical + cosine rankings
    "search_snippets",          # rarest-term highlight windows over hits
    "term_associations",        # exact-integer lift co-occurrence mining
    "ivf_topk_indexed",         # persisted IVF inverted-list probe
    "pq_topk_indexed",          # persisted packed-code SDC probe
    # r12 addition: the persisted-index RAG serving plan (lexical
    # postings probe + IVF-Flat cell probe + integer RRF fusion; the
    # query batch is a literal relation resolved at construction, so
    # collect() times exactly the per-request serving plan)
    "hybrid_topk_indexed",
    # r12 search-feature widening (all hash-oracled; their oracles do
    # genuinely comparable relational work, so they also join the
    # interleaved search-comparable set)
    "phrase_near_topk",          # sloppy-pair proximity search
    "more_like_this",            # doc-as-query MLT retrieval
    "faceted_search",            # facet counts over the full match set
    "fts_weighted_topk",         # title-boost field-weighted ranking
    "spell_suggest",             # did-you-mean over PassJoin candidates
    # r12b time-series tier (hash-oracled; oracles do comparable
    # relational work, so they join the interleaved timeseries set)
    "ts_ohlc_hourly",            # struct-extrema OHLC bars, one shuffle
    "ts_gapfill_locf",           # dense grid + carried-forward fill
    "ts_gapfill_interp",         # bracketing windows + exact rational fill
    "ts_seasonal_naive",         # lag-168h grid self-join forecast backtest
    # NOT benched here: item_pagerank / keyphrase_textrank /
    # kmeans_lloyd / cluster_canonical
    # eagerly materialize (localCheckpoint / iterate) at
    # DataFrame-construction time, so timing their collect() would
    # measure a block-manager read, not the iteration;
    # mv_pv_hourly_maintain / compact_roundtrip / erase_users_roundtrip /
    # user_tier_scd2_maintain do table WRITES inside fn(), so their
    # cost is the write path, not the returned scan. The PIPELINES set
    # below times that class honestly: full fn() invocations.
]

# End-to-end pipeline/maintainer ops (r9): these construct eagerly
# (iteration, localCheckpoint, or table writes inside fn()), so the
# HEADLINE collect()-of-a-prebuilt-frame method would measure a
# block-manager read. They are timed as FULL invocations instead —
# construction + execution + materialization per run. Not comparable
# to the scan-shaped HEADLINE rows or any DuckDB baseline row, but a
# real round-over-round anchor for the maintainer-job class.
PIPELINES = [
    "retention_rolling",
    # r12b: MMR materializes its bounded pool/overlap literals at
    # construction (the corpus-scale retrieval runs then), so a
    # collect() of the prebuilt frame would time only the KB greedy
    # tail — full-invocation timing is the honest class for it
    "fts_topk_diverse",
    "near_dup_clusters_incremental",
    "jsonl_roundtrip",
    "orc_roundtrip",
    "ingest_accept_batch",
    "ingest_two_batch",
    # r10: the PRODUCTION admission shape — probes PERSISTED indexes.
    # run_full clears only _MANIFEST_CACHE; the index build memo
    # (session.session_memo) survives across runs, so this row times
    # the per-batch PROBE while the corpus-scale index derivation
    # (the scheduled nightly build) is excluded — the cost split the
    # r9 verdict asked BENCH to show (vs ingest_accept_batch, which
    # keeps timing the derive-everything-in-query simulation shape).
    "ingest_accept_batch_indexed",
    # and the production LIFECYCLE shape: run-1 probe + overlay commit
    # (∝ accepted batch) + run-2 probe over base ∪ overlay, with the
    # corpus0 nightly build memoized — vs ingest_two_batch, which
    # rebuilds the corpus indexes in-query twice
    "ingest_two_batch_indexed",
]


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _record_cpus(d: dict) -> int:
    """The core count a bench record ran at; records that predate the
    ``cpus`` field ran at the default full width."""
    return d.get("cpus") or DEFAULT_CPUS


def _prev_bench(cur_sf: float) -> tuple[str, dict] | None:
    """The newest prior bench record WITH per-query detail at the
    CURRENT scale factor — the round-over-round trend anchor.

    Sources, newest first:
    1. ``bench_detail.json`` — the committed detail of the last full
       bench run on this checkout. Needed since r11: the headline set
       outgrew the driver's 2000-char stdout tail, so BENCH_r{N}.json's
       compact line drops its ``queries`` map and the detail file is
       the only per-query record of the driver's own run.
    2. driver-recorded ``BENCH_r{N}.json`` files (newest round first);
       captures whose stdout tail overflowed (r01/r03/r04) are
       recovered by re-parsing the last JSON object in ``tail`` —
       so the anchor is the PRIOR ROUND, never a stale earlier one.

    Records at a different sf are skipped (a local sf0.01 smoke must
    not shadow the sf0.1 trend).

    Returns (path, data, provenance) — provenance says WHOSE run the
    anchor is (r11 advisory: two local runs in a row silently compare
    against the previous local run, not the prior driver round; the
    provenance string makes that visible in the emitted record):
    ``driver-round <file>`` when bench_detail.json matches the newest
    driver-recorded capture, ``local-rerun (after <file>)`` when it
    was refreshed locally since, or ``driver-record`` for a BENCH_r*
    fallback."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))

    def newest_driver_record() -> tuple[str, dict] | None:
        for p in sorted(glob.glob(os.path.join(here, "BENCH_r*.json")), reverse=True):
            try:
                d = json.load(open(p))
            except (OSError, json.JSONDecodeError):
                continue
            # a lower-core scaling pass (e.g. BENCH_r12_c8.json, 8
            # cores) must not anchor a full-width run's vs_prev trend,
            # nor a legacy full-width record a lower-core run's
            if _record_cpus(d) != CPUS:
                continue
            parsed = d.get("parsed") if isinstance(d.get("parsed"), dict) else None
            if not parsed:
                # tail keeps the final stdout chars; the bench line is
                # the last {...} blob
                tail = d.get("tail") or ""
                for m in re.finditer(r"\{\"metric\".*?\}(?=\s*$|\n)", tail, re.S):
                    try:
                        cand = json.loads(m.group(0))
                    except json.JSONDecodeError:
                        continue
                    if cand.get("value") is not None:
                        parsed = cand
            if parsed and parsed.get("sf") == cur_sf:
                return (p, parsed)
        return None

    driver = newest_driver_record()
    detail_path = os.path.join(here, "bench_detail.json")
    try:
        d = json.load(open(detail_path))
        if d.get("queries") and d.get("sf") == cur_sf and _record_cpus(d) == CPUS:
            if driver is not None and driver[1].get("value") == d.get("value") and (
                driver[1].get("method") == d.get("method")
            ):
                prov = f"driver-round {os.path.basename(driver[0])}"
            elif driver is not None:
                prov = f"local-rerun (after {os.path.basename(driver[0])})"
            else:
                prov = "local-rerun"
            return (detail_path, d, prov)
    except (OSError, json.JSONDecodeError):
        pass
    if driver is not None and driver[1].get("queries"):
        return (driver[0], driver[1], "driver-record")
    return None


def _times(fn, runs: int = RUNS) -> list[float]:
    fn()  # warm-up (plan cache, code gen, shuffle files)
    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return times


def _median_time(fn, runs: int = RUNS) -> float:
    return statistics.median(_times(fn, runs))


def main() -> None:
    from flink_project_userbehavioranalysis_spark import get_spark
    from flink_project_userbehavioranalysis_spark.io import cache_events

    import __spark_entry__ as entry_mod

    spark = get_spark(
        app_name="ubx-bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS, streaming=True
    )
    spark.sparkContext.setLogLevel("ERROR")
    cache_events(spark, SF_DIR)

    queries = {n: f for n, f in entry_mod.queries().items() if n in HEADLINE}
    # Session-wide warm pass BEFORE any timing: JVM JIT/codegen warmth
    # accumulates across the whole run, so without this the queries
    # benched first (the BASELINE comparable set) read systematically
    # slower than identical queries benched late — measured ~20% drift
    # across three same-session sweeps of the same 10 queries. One
    # untimed collect of every headline query levels the field; the
    # per-query warm-up in _median_time still handles shuffle files
    # and per-plan caches.
    warmed = {name: fn(spark, SF_DIR) for name, fn in queries.items()}
    for df in warmed.values():
        df.collect()
    # Force a driver GC after the warm pass so the ContextCleaner can
    # drop its broadcast/shuffle litter BEFORE timing starts (local
    # mode: driver JVM == executor JVM; the DataFrame handles in
    # `warmed` stay — they pin plans, not blocks). The late-round
    # heavy rows (codec Arrow passes, the ingest lifecycle
    # simulations) otherwise leave old-gen pressure that inflates
    # every timed row — measured r10: knn_topk 0.63 s in a clean
    # session vs 1.32 s in the pressured one. Method-neutral: nothing
    # timed yet.
    spark.sparkContext._jvm.System.gc()
    time.sleep(2)
    # floor AFTER the warm pass: queries_adj subtracts it from medians
    # taken in the warmed state, so it must be the warmed floor — the
    # cold-session floor is ~20% larger and would over-subtract.
    floor = _median_time(lambda: spark.range(1).collect(), runs=5)
    per_query: dict[str, float] = {}
    per_query_arrow: dict[str, float] = {}
    rows: dict[str, int] = {}
    from flink_project_userbehavioranalysis_spark.operators.ingest import (
        _MANIFEST_CACHE,
    )

    # The two same-run comparable sets (the 2×-bar instrument).
    # BASELINE_COMPARABLE mirrors BASELINE.md's anchored 10 rows;
    # SEARCH_COMPARABLE are the r11-anchored search-pillar rows — each
    # DuckDB side is the registered oracle doing genuinely comparable
    # relational work, except edit_dup_pairs which uses the
    # equivalence-tested segment-filtered fast oracle (the registered
    # all-pairs recompute is a deliberate completeness proof, not
    # comparable work — ~2 min at sf0.1).
    BASELINE_COMPARABLE = [
        "hot_items_topn", "pv_hourly", "uv_hourly", "uv_approx",
        "count_by_channel_behavior", "blacklist", "consec_fail",
        "order_timeout", "interval_join", "tpch_q1ish",
    ]
    SEARCH_COMPARABLE = [
        "fts_topk", "phrase_search", "term_associations",
        "term_stats_maintain", "edit_dup_pairs", "search_snippets",
        "fts_topk_any", "fts_prefix_topk", "hybrid_topk", "fts_fuzzy_topk",
        # r12 features (oracles are comparable relational work)
        "phrase_near_topk", "more_like_this", "faceted_search",
        "fts_weighted_topk", "spell_suggest",
        # r12b: the compacted-tree probe vs the same full-rebuild oracle
        "fts_topk_compacted",
    ]
    # r12b time-series rows: same interleaved same-moment discipline,
    # recorded as their own pillar section
    TS_COMPARABLE = [
        "ts_ohlc_hourly",
        "ts_gapfill_locf",
        "ts_gapfill_interp",
        "ts_seasonal_naive",
    ]
    con = None
    osql: dict[str, str] = {}
    try:
        import duckdb

        con = duckdb.connect()
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
            )
        osql = dict(entry_mod.oracle_sql())
        # uv_approx is rows-only in the correctness gate (sketch
        # estimates are engine-specific), but the BASELINE.md row timed
        # DuckDB's own approx sketch — supply that query here so the
        # same-host comparable set matches BASELINE's 10 rows
        osql.setdefault(
            "uv_approx",
            """
SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS w,
       approx_count_distinct(user_id) AS uv_approx
FROM events WHERE event_type = 'view' GROUP BY 1
""",
        )
        from flink_project_userbehavioranalysis_spark.operators.search import (
            edit_dup_pairs_fast_oracle_sql,
        )

        osql["edit_dup_pairs"] = edit_dup_pairs_fast_oracle_sql()
    except Exception:
        con = None  # baseline-in-run is best-effort; BASELINE.md anchors

    duck_ms: dict[str, float] = {}
    duck_min_ms: dict[str, float] = {}
    duck_df_ms: dict[str, float] = {}
    duck_search_ms: dict[str, float] = {}
    duck_ts_ms: dict[str, float] = {}
    per_query_min: dict[str, float] = {}

    # HEADLINE rows first (r11 hygiene): the PIPELINES set runs ~90 s
    # of heavy full invocations; timing it before the headline set left
    # old-gen pressure under the BASELINE-comparable sub-50 ms rows
    # (the r10 warm-pass note's failure mode, in a new spot). The
    # headline medians now come from the cleanest post-GC state.
    for name, df in warmed.items():
        ts = _times(lambda d=df: d.collect())
        per_query[name] = round(statistics.median(ts), 4)
        # the MIN is the noise-floor estimate under this host's
        # transient-stall regime (noisy-neighbor VM; r11 brackets
        # measured same-run collect ratios of 1.6-4.6× within hours);
        # interference is strictly additive, so min-of-runs recovers
        # the cost floor on both engines identically
        per_query_min[name] = round(min(ts), 4)
        # INTERLEAVED same-moment DuckDB pair (r11): the r11 brackets
        # proved the host's throughput drifts WITHIN a run (Spark rows
        # timed early, DuckDB ~20 min later read different machines),
        # so each comparable query's DuckDB twin is timed IMMEDIATELY
        # after its Spark timing — the pair shares one host state.
        q = osql.get(name) if con is not None else None
        if q and name in BASELINE_COMPARABLE:
            dts = _times(lambda q=q: con.execute(q).fetchall())
            duck_ms[name] = round(statistics.median(dts), 4)
            duck_min_ms[name] = round(min(dts), 4)
            duck_df_ms[name] = round(
                _median_time(lambda q=q: con.execute(q).df()), 4
            )
        elif q and name in SEARCH_COMPARABLE:
            duck_search_ms[name] = round(
                _median_time(lambda q=q: con.execute(q).fetchall()), 4
            )
        elif q and name in TS_COMPARABLE:
            duck_ts_ms[name] = round(
                _median_time(lambda q=q: con.execute(q).fetchall()), 4
            )
        # the Arrow client path (toPandas): same engine work, efficient
        # materialization — the delivery mode a real consumer uses for
        # wide results; recorded so the client-overhead component of
        # the collect() number is visible (pii_scrub: ~60% of it)
        per_query_arrow[name] = round(_median_time(lambda d=df: d.toPandas()), 4)
        rows[name] = df.count()
    if con is not None:
        con.close()

    all_queries = entry_mod.queries()
    for name in PIPELINES:
        fn = all_queries[name]

        def run_full(f=fn):
            # the admission manifest memoizes per session (so the audit
            # twin reuses one cascade) — clear it so each timed run is
            # a FULL invocation, which is this section's contract
            _MANIFEST_CACHE.clear()
            f(spark, SF_DIR).collect()

        per_query[name] = round(_median_time(run_full, runs=3), 4)
        rows[name] = fn(spark, SF_DIR).count()

    # SPLIT totals (r11): the PIPELINES rows are full-invocation
    # maintainer jobs (a different measurement class), so mixing them
    # into one total made round-over-round comparison unreadable
    # (r10's "total roughly doubles" note). warm_query_total = the
    # collect()-timed headline set only; pipeline_total = the
    # full-invocation set; vs_prev is computed per set.
    total = round(sum(v for k, v in per_query.items() if k not in PIPELINES), 4)
    pipeline_total = round(sum(per_query[k] for k in PIPELINES if k in per_query), 4)
    # The driver keeps only the LAST 2000 chars of stdout and parses the
    # final JSON line; r04's line (queries + queries_adj + rows + vs_prev)
    # overflowed that tail and the driver recorded `parsed: null`. So:
    # rich detail goes to bench_detail.json (committed, judge-readable),
    # and stdout gets ONE compact line with just the contract fields.
    detail = {
        "metric": "warm_query_total",
        "value": total,
        "pipeline_total": pipeline_total,
        "unit": "sec",
        # method version: bumped when the measurement procedure changes
        # (v2 = session-wide warm pass + warmed floor, r6; v2-split =
        # r11, headline "value" excludes the PIPELINES rows;
        # v3-interleaved = r11, each comparable query's DuckDB twin
        # timed immediately after its Spark timing so the pair shares
        # one host state) so a cross-method vs_prev ratio is readable
        # as a method change, not a performance delta.
        "method": "warmpass-v3-interleaved",
        "queries": per_query,
        "sf": _sf_of(SF_DIR),
        "floor_sec": round(floor, 4),
        "queries_adj": {k: round(max(0.0, v - floor), 4) for k, v in per_query.items()},
        "rows": rows,
        "runs": RUNS,
        "cpus": CPUS,
    }
    if duck_search_ms:
        comp_s = [k for k in duck_search_ms if k in per_query]
        detail["same_host_search"] = {
            "duckdb_fetchall": duck_search_ms,
            "ratio_collect_vs_fetchall": round(
                sum(per_query[k] for k in comp_s)
                / sum(duck_search_ms[k] for k in comp_s),
                3,
            ),
        }
    if duck_ts_ms:
        comp_t = [k for k in duck_ts_ms if k in per_query]
        detail["same_host_timeseries"] = {
            "duckdb_fetchall": duck_ts_ms,
            "ratio_collect_vs_fetchall": round(
                sum(per_query[k] for k in comp_t)
                / sum(duck_ts_ms[k] for k in comp_t),
                3,
            ),
        }
    if duck_ms:
        # intersect all three dicts: a failure between the fetchall and
        # .df() timings of one query must not KeyError the whole report
        comp = [k for k in duck_ms if k in duck_df_ms and k in per_query]
        detail["same_host_baseline"] = {
            "duckdb_fetchall": duck_ms,
            "duckdb_fetchall_min": duck_min_ms,
            "duckdb_df": duck_df_ms,
            "ratio_collect_vs_fetchall": round(
                sum(per_query[k] for k in comp) / sum(duck_ms[k] for k in comp), 3
            ),
            # the noise-floor pair: min-of-runs on BOTH engines — the
            # robust ratio under this host's transient-stall regime
            "ratio_collect_vs_fetchall_min": round(
                sum(per_query_min[k] for k in comp)
                / sum(duck_min_ms[k] for k in comp),
                3,
            ),
            # min-pair with the per-job scheduling floor subtracted
            # from each Spark min: the comparable rows average ~40 ms
            # in DuckDB, so a ~25 ms Spark job floor alone pins the
            # raw min-pair near 2× regardless of engine work — this is
            # the number that extrapolates (BASELINE.md metric
            # contract: min-pair raw is diagnostic-only)
            "ratio_min_floor_adj": round(
                sum(max(0.0, per_query_min[k] - floor) for k in comp)
                / sum(duck_min_ms[k] for k in comp),
                3,
            ),
            "ratio_arrow_vs_df": round(
                sum(per_query_arrow[k] for k in comp) / sum(duck_df_ms[k] for k in comp), 3
            ),
        }
    detail["queries_min"] = per_query_min
    detail["queries_arrow"] = per_query_arrow
    detail["pipeline_queries"] = PIPELINES  # full-invocation method, see above

    prev = _prev_bench(detail["sf"])
    if prev is not None:
        ppath, pdata, prev_prov = prev
        pq = pdata.get("queries", {})
        same_sf = pdata.get("sf") == detail["sf"]
        # Compare over the INTERSECTION of query sets: the headline set
        # grows round over round, so a whole-total ratio would read new
        # coverage as a regression (r05 vs r02 showed 1.14x while every
        # overlapping query was flat or faster).
        # per-SET ratios (r11): headline (collect-timed) and pipeline
        # (full-invocation) are different measurement classes — the
        # split keeps both trends readable on their own terms
        common = [k for k in per_query if pq.get(k) and k not in PIPELINES]
        common_pipe = [k for k in PIPELINES if k in per_query and pq.get(k)]
        cur_common = sum(per_query[k] for k in common)
        prev_common = sum(pq[k] for k in common)
        cur_pipe = sum(per_query[k] for k in common_pipe)
        prev_pipe = sum(pq[k] for k in common_pipe)
        detail["vs_prev"] = {
            "prev_file": os.path.basename(ppath),
            # whose run the anchor is: driver round vs local rerun
            # (r11 advisory — vs_prev semantics depend on this)
            "prev_provenance": prev_prov,
            "prev_method": pdata.get("method"),  # None = pre-warmpass capture
            "prev_sf": pdata.get("sf"),
            "prev_total": pdata.get("value"),
            "common_queries": len(common),
            "common_pipelines": len(common_pipe),
            # ratios only make sense at the same scale factor; ±2x
            # session noise on sub-50 ms queries is expected (see notes)
            "total_ratio": round(cur_common / prev_common, 3)
            if same_sf and prev_common
            else None,
            "pipeline_ratio": round(cur_pipe / prev_pipe, 3)
            if same_sf and prev_pipe
            else None,
            "query_ratio": {
                k: round(v / pq[k], 2) for k, v in per_query.items() if pq.get(k)
            }
            if same_sf
            else {},
        }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "bench_detail.json"), "w") as f:
        json.dump(detail, f, indent=1)
    compact = {
        "metric": "warm_query_total",
        "value": total,
        "pipeline_total": pipeline_total,
        "unit": "sec",
        "method": detail["method"],
        "queries": per_query,
        "sf": detail["sf"],
        "floor_sec": detail["floor_sec"],
    }
    if prev is not None and detail["vs_prev"].get("total_ratio") is not None:
        compact["vs_prev_total"] = detail["vs_prev"]["total_ratio"]
        compact["vs_prev_pipeline"] = detail["vs_prev"].get("pipeline_ratio")
        compact["vs_prev_anchor"] = detail["vs_prev"]["prev_provenance"]
    if "same_host_baseline" in detail:
        shb = detail["same_host_baseline"]
        compact["vs_duckdb_same_host"] = shb["ratio_collect_vs_fetchall"]
        compact["vs_duckdb_same_host_min"] = shb["ratio_collect_vs_fetchall_min"]
        compact["vs_duckdb_min_floor_adj"] = shb["ratio_min_floor_adj"]
        compact["vs_duckdb_same_host_arrow"] = shb["ratio_arrow_vs_df"]
    if "same_host_search" in detail:
        compact["vs_duckdb_search"] = detail["same_host_search"][
            "ratio_collect_vs_fetchall"
        ]
    compact["cpus"] = CPUS
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) >= 1880:
        # The driver parses only the LAST ~2000 stdout chars (r04's
        # overflow recorded parsed:null from a tail-truncated line),
        # and the 97 benched names alone are ~1.5 KB of JSON — the
        # full map can never ride the final line whole. r12 "fixed"
        # this by stripping `queries` entirely, which blinded the
        # driver's per-query/scaling comparison (PERF_r12 n_common=0).
        # r13: keep the final line under the tail limit but carry the
        # highest-information per-query SUBSET that fits, chosen by a
        # DETERMINISTIC priority (all PIPELINES rows, then the
        # BASELINE/search/ts comparable sets, then remaining headline
        # rows in declaration order) so the driver's 32-core and
        # 8-core runs emit the SAME names and scaling.per_query can
        # intersect them. Values are rounded to ms. The FULL map still
        # goes to bench_detail.json (committed) and is also printed on
        # its own chunked lines just above (readable by anything that
        # keeps more than the 2000-char tail; the chunks avoid the
        # literal '{"metric' prefix so tail-scanners can't mistake
        # them for the contract line).
        full_q = {k: round(v, 3) for k, v in per_query.items()}
        for i in range(0, len(HEADLINE) + len(PIPELINES), 40):
            names = (HEADLINE + PIPELINES)[i : i + 40]
            chunk = {k: full_q[k] for k in names if k in full_q}
            if chunk:
                print(json.dumps(
                    {"bench_queries_part": i // 40 + 1, "queries": chunk},
                    separators=(",", ":"),
                ))
        priority = list(dict.fromkeys(
            PIPELINES + BASELINE_COMPARABLE + SEARCH_COMPARABLE
            + TS_COMPARABLE + HEADLINE
        ))
        base = dict(compact)
        base["queries"] = {}
        base["queries_in"] = "bench_detail.json"
        base["queries_n_full"] = len(per_query)
        # FIXED-SIZE priority prefix, not a byte-budget greedy: the
        # greedy's cutoff moved with value widths, so the 32-core and
        # 8-core runs emitted DIFFERENT name sets (59 vs 63) and the
        # driver's scaling intersection shrank. A 50-name prefix fits
        # under the tail limit even at worst-case value widths
        # (≤1794 B); the while-loop is a safety trim that drops from
        # the prefix END, preserving the prefix property.
        subset = {k: full_q[k] for k in priority[:50] if k in full_q}
        base["queries"] = subset
        line = json.dumps(base, separators=(",", ":"))
        while len(line) >= 1880 and subset:
            subset.pop(next(reversed(subset)))
            base["queries"] = subset
            line = json.dumps(base, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
