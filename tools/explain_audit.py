"""Plan-hygiene audit: capture physical plans for key queries and check
the properties that matter at 100 TB — column-pruned scans, no stray
shuffles, broadcast joins where dims are small. Writes BENCH/PLANS.md.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

CHECKS = {
    # query: (must_contain, must_not_contain)
    "pipeline_e2e": (["ReadSchema"], ["SortMergeJoin", "CartesianProduct"]),
    # the single Exchange in regex_parse belongs to the transcripts
    # builder's turn_idx window (input synthesis), not to the parse —
    # the parse stage itself is a pure fused projection
    "regex_parse": (["ReadSchema"], ["SortMergeJoin"]),
    "dict_map_join": (["BroadcastHashJoin"], ["SortMergeJoin"]),
    "enrich_star": (["BroadcastHashJoin"], ["SortMergeJoin"]),
    "route_exclusive": (["HashAggregate"], ["SortMergeJoin"]),
    "exact_dedup": (["partial_"], ["SortMergeJoin"]),
    # containerd parse claims ZERO regex on the hot path (instr/substring)
    "container_log_parse": (["ReadSchema"], ["SortMergeJoin", "RLIKE"]),
    "apsara_parse": (["ReadSchema"], ["SortMergeJoin"]),
    "grok_apache": (["ReadSchema"], ["SortMergeJoin"]),
    "otel_metric": (["ReadSchema", "Generate"], ["SortMergeJoin"]),
    # geoip is a broadcast NON-equi join — must not fall back to a
    # cartesian/sort-merge strategy
    "geoip": (["BroadcastNestedLoopJoin"], ["SortMergeJoin", "CartesianProduct"]),
    # round 3: prom parse is one anchored-regex projection; relabel rules
    # fuse into the same projection (no join, no extra shuffle)
    "prom_parse": (["ReadSchema"], ["SortMergeJoin", "Join"]),
    "prom_relabel": (["ReadSchema"], ["SortMergeJoin", "Join"]),
    "influxdb_line": (["ReadSchema"], ["SortMergeJoin", "Join"]),
    "otlp_log": (["ReadSchema"], ["SortMergeJoin", "Join", "Generate"]),
    # training-data additions: explode + doc-keyed partial aggs, no joins
    "repetition": (["HashAggregate", "partial_"], ["SortMergeJoin"]),
    "pii_scrub": (["ReadSchema"], ["SortMergeJoin", "Join", "Generate"]),
    # pure map-stage sample over the raw scan: ZERO exchanges (r3's
    # unconditional _docs spread regressed this — now plan-asserted)
    "stratified_sample": (["ReadSchema"], ["Join", "HashAggregate", "Exchange"]),
    # round 6: shuffle/shard keys and the temperature-mixed sample are
    # pure map stages over the scan (mixing rates are plan literals
    # computed from an O(languages) driver pull)
    "training_shards": (["ReadSchema"], ["Join", "HashAggregate", "Exchange"]),
    "mixture_sample": (["ReadSchema"], ["Join", "Exchange"]),
    # per-doc projections: no distribution requirement, no Exchange
    "token_count": (["ReadSchema"], ["Join", "Exchange"]),
    "quality_score": (["ReadSchema"], ["Join", "Exchange"]),
    # round 6: the logistic model must stay a single fused projection —
    # trained weights plug in without changing the plan shape
    "quality_logistic": (["ReadSchema"], ["Join", "Exchange"]),
    "kgram_fingerprints": (["ReadSchema"], ["Join", "Exchange"]),
    # round 4: flatten/nested converters are ONE fused projection over
    # the transcripts scan (classification + dedup fold + JSON render);
    # the only Generate is the query's own output explode
    "custom_flatten": (["ReadSchema"], ["SortMergeJoin", "Join"]),
    "custom_single": (["ReadSchema"], ["SortMergeJoin", "Join"]),
    # the 5-stage curation composition must stay: one scan, the one
    # md5(norm) window exchange, everything else fused — no joins
    "corpus_pipeline": (["ReadSchema", "Window"], ["Join"]),
    # sequential-in-group Arrow kernel, parallel across groups
    "pack_sequences": (["FlatMapGroupsInPandas"], ["SortMergeJoin"]),
    "url_stats": (["HashAggregate", "partial_"], ["SortMergeJoin"]),
    "normalize_dedup": (["HashAggregate", "partial_"], ["SortMergeJoin"]),
    # round 5: IVF assignment is the Arrow numpy-matmul kernel (an
    # ArrowEvalPython stage), probe join broadcasts the query side
    "ann_ivf": (["ArrowEvalPython", "BroadcastHashJoin"],
                ["SortMergeJoin", "CartesianProduct"]),
    # multi-table LSH: per-(table,bucket) equi-join, broadcast query side
    "ann_lsh_multi": (["BroadcastHashJoin"],
                      ["SortMergeJoin", "CartesianProduct"]),
    # substring spans: window-hash agg + join back + doc-keyed window;
    # must never degenerate to a cartesian pair form
    "dup_spans": (["HashAggregate", "Window"], ["CartesianProduct"]),
    # round 5 (VERDICT r4 #1): the keep-one cluster join must carry NO
    # forced broadcast hint — the cluster side is a stats-unknown
    # LogicalRDD, so the STATIC plan is a shuffle join (AQE upgrades it
    # to broadcast at runtime when the built side is small; both
    # regimes pinned in tests/test_functions.py)
    "dedup_keep_one": (["SortMergeJoin"], ["BroadcastHashJoin"]),
    # round 5 extras: the Bloom probe is broadcast word joins (the
    # bitmap is parameter-bounded, never data-sized) — the bulky train
    # gram side must not sort-merge against the tiny bitmap. The
    # bit_or bitmap build is localCheckpointed (materialized once), so
    # it shows as an RDD scan, not an aggregate — the SCAN_LIMIT below
    # asserts the n_hashes probe joins don't re-run the build
    "contamination_bloom": (["BroadcastHashJoin"], ["CartesianProduct"]),
    # incremental dedup probes the write-time index with hash equi-joins;
    # the batch must never pair with itself or the corpus rows directly
    "incremental_dedup": (["HashAggregate"], ["CartesianProduct"]),
    # round 6: the snapshot twin probes the RELOADED bucketed index —
    # both index scans must read as bucketed scans (catalog metadata
    # recovered from the commit payload), which is what lets the probe
    # join skip the index-side shuffle at corpus scale (the exchange
    # differential is pinned in tests/test_snapshot.py)
    "incremental_dedup_snapshot": (
        ["Bucketed: true"], ["CartesianProduct"]),
    # BM25: 1-row stats broadcast (BNLJ) + per-partition top-k heaps —
    # never a full sort or a shuffled join
    "bm25": (["TakeOrderedAndProject", "BroadcastNestedLoopJoin"],
             ["SortMergeJoin", "CartesianProduct"]),
    # the write-time-stats path must be join-FREE: literal statistics,
    # one scan, fused projection, top-k heaps
    "bm25_prestats": (["TakeOrderedAndProject"],
                      ["Join", "Exchange", "HashAggregate"]),
    # RRF fusion: the only non-broadcast join (the full-outer fuse) runs
    # over two parameter-bounded candidate lists; corpus-sized relations
    # must stay on the broadcast/zero-shuffle paths
    "hybrid_retrieval": (["TakeOrderedAndProject"], ["CartesianProduct"]),
    "hybrid_ivf": (["TakeOrderedAndProject"], ["CartesianProduct"]),
    # vocab heavy hitters: map-side-combinable token aggs + 1-row
    # broadcast total + per-partition top-k heaps, never a full sort
    "vocab_topk": (["HashAggregate", "partial_", "TakeOrderedAndProject"],
                   ["SortMergeJoin", "CartesianProduct"]),
    # exact per-group percentile: one group-keyed aggregate, no joins,
    # no row expansion
    "length_quantiles": (["Aggregate"], ["Join", "Generate"]),
    # round 6: the approx tier must keep the same single-aggregate
    # shape AND show a map-side partial (the GK summary combines before
    # the exchange — the whole point of the twin)
    "length_quantiles_approx": (["ObjectHashAggregate", "partial_"],
                                ["Join", "Generate"]),
    # round 6: batched BM25 — one scan, literal stats, inline explode
    # of per-query hits, and the per-query top-k must be a
    # WindowGroupLimit (map-side per-group heaps before the exchange);
    # no joins, no corpus-wide aggregate in the plan
    "bm25_multi": (["WindowGroupLimit", "Generate"],
                   ["Join", "HashAggregate"]),
    # batched hybrid: both rank pulls feed WindowGroupLimit windows;
    # fusion may shuffle-join (parameter-bounded lists) but never
    # cartesian
    "hybrid_multi": (["WindowGroupLimit"], ["CartesianProduct"]),
    # round 6 session 3: dissect compiles INTO the sentinel regex engine —
    # one fused projection over the transcripts scan, no joins
    "dissect": (["ReadSchema"], ["SortMergeJoin", "Join"]),
    # conversation ops: one conv-keyed agg / window; never a join
    "conversation_stats": (["HashAggregate", "partial_"], ["Join"]),
    "sft_pairs": (["Window"], ["Join"]),
    # gaps-and-islands: lag + running-sum windows share one conv_id
    # exchange and the per-session rollup reuses it (subset rule)
    "sessionize": (["Window", "HashAggregate"], ["Join"]),
    # unigram LM: broadcast vocab join + 1-row BNLJ total — the
    # token-scale relation must never shuffle-join
    "unigram_nll": (["BroadcastHashJoin", "BroadcastNestedLoopJoin"],
                    ["SortMergeJoin", "CartesianProduct"]),
    # E–S sampling: per-stratum top-k must run as map-side group
    # heaps (WindowGroupLimit), not a full sort
    "weighted_sample": (["WindowGroupLimit"], ["Join"]),
    # Z-order key: pure bit-arithmetic map stage over the raw scan
    "zorder_key": (["ReadSchema"], ["Join", "Exchange", "HashAggregate"]),
    # distributed Lloyd step: Arrow matmul assignment + partial agg
    "kmeans_step": (["ArrowEvalPython", "HashAggregate", "partial_"],
                    ["SortMergeJoin", "CartesianProduct"]),
    # expression twin: broadcast centroid join + per-vector argmax
    "kmeans_step_expr": (["Window"], ["SortMergeJoin", "CartesianProduct"]),
    # as-of enrich is the union+window composition — there must be NO
    # join operator of any kind in the plan (that is the whole point:
    # no broadcast, no range-join explosion, one shuffle on the key)
    "asof_enrich": (["Window"], ["Join", "CartesianProduct"]),
    # broadcast-interval tier: the facts must join the tiny interval
    # dim via BroadcastHashJoin (equi key + range residual) — never a
    # shuffle join, never a BNLJ (the equi key must be used), and the
    # only Window allowed is the dim-side lead() + the transcripts
    # source's own turn_idx window
    "asof_enrich_bcast": (["BroadcastHashJoin"],
                          ["SortMergeJoin", "CartesianProduct",
                           "BroadcastNestedLoopJoin"]),
    # C4 page cleaning: page assembly agg + pure HOF projection
    "c4_clean": (["HashAggregate"], ["Join", "Generate"]),
    # Gopher rule bundle: page assembly agg + ONE fused rule projection
    # — no join, no explode, no extra shuffle beyond the page agg
    "gopher_rules": (["HashAggregate"], ["Join", "Generate"]),
    # corpus-wide line dedup: map-side-combinable per-hash agg + equi
    # join-back + doc reassembly — never a cartesian, never a window
    # keyed by line hash (hot-line skew)
    "line_dedup": (["HashAggregate", "partial_"], ["CartesianProduct"]),
    # snapshot diff: ONE full-outer SortMergeJoin on (id, md5)
    # projections — the wide text column must not reach the shuffle
    # (asserted by the exchange ceiling: 2 = one per side)
    "corpus_diff": (["SortMergeJoin"], ["CartesianProduct", "Generate"]),
    # count-min estimate: the parameter-bounded sketch (≤ depth×width
    # rows) must broadcast — a shuffle join here would shuffle the
    # probe side for a ≤4096-row build
    "vocab_topk_cms": (["BroadcastHashJoin", "HashAggregate", "partial_"],
                       ["SortMergeJoin", "CartesianProduct"]),
    # HLL registers: map-side-combinable (group, j) max agg; the
    # 4-row exact-vs-estimate comparison join must broadcast
    "distinct_hll": (["BroadcastHashJoin", "HashAggregate", "partial_"],
                     ["SortMergeJoin", "CartesianProduct"]),
    # rollup twin: per-source registers merge by max — the only join is
    # the 1-row exact×estimate comparison (BNLJ over broadcast)
    "distinct_hll_rollup": (["HashAggregate", "partial_"],
                            ["SortMergeJoin", "CartesianProduct"]),
    # funnel: booleans (not text) reach the conv-keyed collect; the
    # min-position chain is pure array expressions — no join, no
    # explode, no per-step shuffles
    "funnel": (["HashAggregate"], ["Join", "Generate"]),
    # windowed latency percentiles: GK sketches are ObjectHashAggregate
    # partials — bounded memory, never the exact percentile's
    # full-vector buffer; no join anywhere
    "latency_windows": (["ObjectHashAggregate", "partial_"],
                        ["Join", "Generate"]),
    # retention: distinct (user,bucket) collapse BEFORE the user-keyed
    # lead walk; no join
    "retention": (["HashAggregate", "partial_", "Window"], ["Join"]),
    # error triage: map-side (window, signature) count + per-window
    # k-heaps — never a full per-window sort
    "top_errors": (["HashAggregate", "partial_", "WindowGroupLimit"],
                   ["Join"]),
    # per-tool rollup and the role-transition matrix: one conv window +
    # one small-key agg; no join
    "tool_stats": (["HashAggregate", "Window"], ["Join"]),
    "role_transitions": (["HashAggregate", "partial_", "Window"], ["Join"]),
    # drift monitor: two map-side-combinable (group, dim) aggs joined
    # on the O(groups × dim) cell space — never row-shaped
    "embedding_drift": (["HashAggregate", "partial_"], ["CartesianProduct"]),
    # chunking is a pure scan-fused explode — zero shuffle of any kind
    "chunk_documents": (["Generate"], ["Join", "Exchange", "HashAggregate"]),
    # one-row corpus headline: ONE scan, one global aggregate
    "corpus_report": (["HashAggregate", "partial_"], ["Join", "Generate"]),
    # schema drift: key explode in the scan stage + two
    # map-side-combinable aggs; no join (the one Window is the
    # transcripts source's turn_idx derivation)
    "schema_drift": (["HashAggregate", "partial_", "Generate"], ["Join"]),
    # round 7: the YAML-adapter pipeline compiles to the SAME plan shape a
    # hand-built spec gets — router + dict-map fuse into the projection,
    # one grouped agg; the adapter adds zero plan overhead
    "yaml_pipeline": (["HashAggregate", "partial_"], ["Join"]),
    # flusher wire shapes: ONE fused projection over the scan — labels/
    # key/topic/JSON render without joins, aggregates, or explodes
    "loki_push": (["ReadSchema"], ["Join", "HashAggregate", "Generate"]),
    "clickhouse_rows": (["ReadSchema"], ["Join", "HashAggregate", "Generate"]),
    "pulsar_messages": (["ReadSchema"], ["Join", "HashAggregate", "Generate"]),
    # round 7: network-input decoders are pure fused projections over
    # the frame column — no join, no aggregate; syslog has no Generate
    # either (influx/otlp legitimately explode per-field / per-record)
    "syslog_rfc3164": (["ReadSchema"], ["Join", "HashAggregate", "Generate"]),
    "syslog_rfc5424": (["ReadSchema"], ["Join", "HashAggregate", "Generate"]),
    "syslog_auto": (["ReadSchema"], ["Join", "HashAggregate", "Generate"]),
    "statsd_decode": (["ReadSchema"], ["Join", "HashAggregate", "Generate"]),
    "influx_decode": (["ReadSchema", "Generate"], ["Join", "HashAggregate"]),
    "otlp_log_decode": (["ReadSchema", "Generate"], ["Join", "HashAggregate"]),
    # BPE: encode is a pure map stage (the tokenize at 100 TB must not
    # shuffle); pair counting is two map-side-combinable aggs, no join
    "bpe_encode": (["ReadSchema"], ["Join", "HashAggregate", "Exchange"]),
    "bpe_pair_counts": (["partial_"], ["Join", "SortMergeJoin"]),
    # per-signal aggregator routers: CASE projection + one count agg
    "otel_aggregate_route": (["partial_"], ["Join", "SortMergeJoin"]),
    "skywalking_route": (["partial_"], ["Join", "SortMergeJoin"]),
    # bigram LM: the model joins must be BROADCAST (the LM is small;
    # a sort-merge fallback would shuffle the full bigram explosion)
    "bigram_nll": (["BroadcastHashJoin"], ["SortMergeJoin"]),
    # remote-write shaping is a pure projection over the metric rows
    "prometheus_series": (["ReadSchema"], ["Join", "HashAggregate", "Generate"]),
    # CDC apply: ONE partial max_by agg, never a join; the plan's only
    # Window is the transcripts SOURCE synthesis (tests/test_cdc.py pins
    # the operator itself Window-free on a plain input)
    "cdc_apply": (["partial_max_by"], ["Join", "SortMergeJoin"]),
}

# single-pass claims: at most N parquet scans in the physical plan
SCAN_LIMIT = {
    "otel_metric": 1,       # array-of-structs build, ONE explode — not union-per-kind
    "container_log_parse": 1,
    "apsara_parse": 1,
    "grok_apache": 1,
    "pipeline_e2e": 1,
    "prom_parse": 1,
    "prom_relabel": 1,      # 6-rule chain fuses into the parse projection
    "influxdb_line": 1,
    "otlp_log": 1,
    "contamination_bloom": 2,  # train grams + test confirm; the bitmap
                               # build must NOT re-scan per probe join
                               # (was 7 scans before the checkpoint)
    "bm25_multi": 1,           # N queries, ONE corpus scan — the point
    "hybrid_multi": 3,         # documents once (literal stats) +
                               # embeddings corpus + pushed-down
                               # query-vector point lookup
    "length_quantiles_approx": 1,
    "dissect": 1,
    "zorder_key": 1,
    "corpus_report": 1,       # headline must stay a single corpus pass
    "loki_push": 1,
    "clickhouse_rows": 1,
    "pulsar_messages": 1,
    "syslog_rfc3164": 1,
    "syslog_rfc5424": 1,
    "syslog_auto": 1,
    "statsd_decode": 1,
    "influx_decode": 1,
    "otlp_log_decode": 1,
    "bpe_pair_counts": 1,
    "bpe_encode": 1,
}

# single-materialization claims: expensive expressions that must appear
# exactly once in the final plan (VERDICT r2 asked for the otel one)
EXPR_ONCE = {
    "otel_metric": "from_json",  # the deep OTLP schema is parsed ONCE,
                                 # shared by all four metric-kind branches
}

# shuffle-count ceilings: at most N Exchange nodes in the physical plan.
# The forbid-list can't see repartitions (they are legal operators), so
# scale hygiene is asserted as a count: a plan that grows an extra
# exchange (e.g. a spread the aggregate cannot reuse) fails the audit.
EXCHANGE_LIMIT = {
    "exact_dedup": 1,        # the md5(text) groupBy — nothing else
    "fingerprint": 1,        # posexplode feeds ONE doc-keyed agg exchange
    "repetition": 3,         # gated doc_id spread reused by the (doc,gram)
                             # and doc aggs (subset rule) + bigram branch
    "url_stats": 3,          # transcripts window + the two-phase exact
                             # countDistinct (partial per (domain,doc) +
                             # final domain agg) — the correct plan for
                             # exact distinct counting, not a stray shuffle
    "normalize_dedup": 2,    # transcripts window + norm-key agg
    "pii_scrub": 1,          # transcripts window only — scrub is pure map
    "regex_parse": 1,        # transcripts turn_idx window only
    "prom_parse": 1,
    "prom_relabel": 1,
    "influxdb_line": 1,
    "otlp_log": 1,
    "pipeline_e2e": 2,       # transcripts window + O(groups) sink agg
    "custom_flatten": 1,     # transcripts window only
    "custom_single": 1,
    "corpus_pipeline": 1,    # the md5(norm) dedup window — nothing else
    "bm25_multi": 1,         # the per-query top-k window — nothing else
    "length_quantiles_approx": 1,  # the group-keyed agg exchange
    "dissect": 1,             # transcripts turn_idx window only
    "sft_pairs": 2,           # transcripts window + conv_id context window
    # lag + running-sum + per-session rollup: the two windows share one
    # conv_id exchange and the (conv, session) agg satisfies its
    # clustering via the subset rule — 2 = transcripts window + conv
    "sessionize": 2,
    "conversation_stats": 2,  # transcripts window + conv-keyed agg
    "weighted_sample": 1,     # the per-stratum rank window only
    "zorder_key": 0,          # pure map stage — no shuffle at all
    # round 7: wire shapes ride the transcripts source window only —
    # the converter/labels/key render must add ZERO exchanges
    "loki_push": 1,
    "clickhouse_rows": 1,
    "pulsar_messages": 1,
    # network-input decoders: transcripts source window only — the
    # decode itself (regex CASE / explode / from_json) adds ZERO
    "syslog_rfc3164": 1,
    "syslog_rfc5424": 1,
    "syslog_auto": 1,
    "statsd_decode": 1,
    "influx_decode": 1,
    "otlp_log_decode": 1,
    # word-keyed freq agg + (left,right) pair agg — nothing else
    "bpe_pair_counts": 2,
    # transcripts source window + the per-sink count agg — the router
    # CASE itself adds nothing
    "otel_aggregate_route": 2,
    "skywalking_route": 2,
    # transcripts source window only — label render adds ZERO
    "prometheus_series": 1,
    # transcripts source window + the keyed max_by agg
    "cdc_apply": 2,
    # (prev,tok) train agg + ctx rollup + 1-row total + doc-keyed score
    # agg — each load-bearing; broadcasts are not counted here
    "bigram_nll": 4,
    # the 100 TB tokenize is a pure map stage — zero exchanges
    "bpe_encode": 0,
    # transcripts source window + the content_value_group agg; the
    # adapter-compiled router/dict-map must add none
    "yaml_pipeline": 2,
    # transcripts source window + the TINY dim's interval window; the
    # fact side itself must contribute zero exchanges — that is the
    # whole point of the broadcast-interval tier
    "asof_enrich_bcast": 2,
    # transcripts source window + the conv-keyed page-assembly agg; the
    # seven rules themselves must not add a single exchange
    "gopher_rules": 2,
    # source window + page agg + line-hash stats agg + join probe side
    # + doc reassembly agg — each is load-bearing; a 6th would be a
    # stray (e.g. a non-reused spread)
    "line_dedup": 5,
    # one exchange per diff side — (id, md5) rows only, text pruned
    "corpus_diff": 2,
    # exact-tf agg + sketch agg; top-30 is TakeOrderedAndProject and
    # the estimate join is a broadcast — neither may add an exchange
    "vocab_topk_cms": 2,
    # two transcripts-source windows (sketch + exact sides) + the
    # 2-level register agg + the 2-phase exact countDistinct — the
    # estimate math itself adds none
    "distinct_hll": 6,
    # transcripts source window + the conv-keyed funnel agg
    "funnel": 2,
    # transcripts source window + the conv-keyed latency walk + the
    # window_start percentile agg — three DIFFERENT keys, each
    # load-bearing
    "latency_windows": 3,
}


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from ilogtail_spark.queries import QUERIES
    from ilogtail_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.01"

    sections = []
    failures = []
    for name, (need, forbid) in CHECKS.items():
        plan = plan_of(QUERIES[name](spark, sf))
        missing = [m for m in need if m not in plan]
        present = [m for m in forbid if m in plan]
        # formatted explain prints each node in the tree AND the detail
        # section — count distinct scan node ids, not text occurrences
        import re as _re

        scans = len(set(_re.findall(r"\((\d+)\) Scan parquet", plan)))
        limit = SCAN_LIMIT.get(name)
        over = limit is not None and scans > limit
        exchanges = len(set(_re.findall(r"\((\d+)\) Exchange", plan)))
        xlimit = EXCHANGE_LIMIT.get(name)
        xover = xlimit is not None and exchanges > xlimit
        once = EXPR_ONCE.get(name)
        # formatted explain shows the expression in the node detail only,
        # so count in the final-plan detail text
        n_expr = plan.count(once) if once else None
        expr_bad = once is not None and n_expr != 1
        status = (
            "OK" if not missing and not present and not over and not xover
            and not expr_bad else "FAIL"
        )
        if status == "FAIL":
            failures.append((name, missing, present))
        print(f"{status:4} {name}: need={need} forbid={forbid} "
              f"missing={missing} unexpected={present}"
              + (f" scans={scans}/{limit}" if limit is not None else "")
              + (f" exchanges={exchanges}/{xlimit}" if xlimit is not None else "")
              + (f" {once}x{n_expr}" if once else ""))
        sections.append(f"## {name} — {status}\n\n```\n{plan.strip()}\n```\n")

    with open(os.path.join(ROOT, "BENCH", "PLANS.md"), "w") as f:
        f.write(
            "# Physical plans of key queries (plan-hygiene audit)\n\n"
            "Checked properties: column-pruned `ReadSchema`, broadcast joins\n"
            "for dimension enrich (never sort-merge), partial (map-side)\n"
            "aggregation, no stray shuffles in pure-map parses.\n"
            "Regenerate: `python tools/explain_audit.py`.\n\n"
            + "\n".join(sections)
        )
    print("wrote BENCH/PLANS.md;", len(failures), "failures")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
