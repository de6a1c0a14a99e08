"""Workloads: inputs, ops, checks and traced layer timings.

Each workload generates its inputs and expected outputs before Spark
starts (`prepare`), registers its inputs as part of set-up (`register`),
computes anything else it needs apart from the program (`expect`), and
hands the runner one round of ops at a time (`round`). A round is always
the same list of ops, so the share of failed ops is the same in every run.
With tracing on, `layers` measures the layers beneath the public entry
points.

`flagship_batch` and `yaml_kv_stream` form the benchmark's set.
`registry_mix` is run by hand (see README.md): a pass over its queries
costs too much for the set's time budget.
"""

from __future__ import annotations

import os
import shutil
import statistics

import checks
import gen

# Flagship input: 5 x 679 conversations, about 112k turns. A round is the
# cold op, the guard edge op, one warm-up op and four measured ops.
FLAGSHIP_CONVS = 5 * 679
FLAGSHIP_OPS_PER_ROUND = 6
PREFIX_REPS = 5

# Stream backlog: 48 files of 6000 lines; 16 files per micro-batch. A
# round is the cold drain, one warm-up drain and five measured drains.
KV_FILES, KV_LINES = 48, 6000
STREAM_OPS_PER_ROUND = 7
STREAM_TIMEOUT_S = 60

# Registry tables at sf0.01 size (10k events, 500 documents).
REG_EVENTS, REG_USERS, REG_DOCS = 10_000, 150, 500
REGISTRY_QUERIES = (
    "prom_relabel", "incremental_dedup_cycle", "apsara_parse", "syslog_auto",
    "otel_metric", "dedup_clusters", "syslog_rfc5424", "prom_parse", "minhash_lsh",
    "ngram_jaccard", "line_dedup", "container_log_parse", "grok_parse", "spl_pipeline",
)
REGISTRY_PASSES_PER_ROUND = 3
SYNTH_REPS = 3

FLAGSHIP_LAYERS = (
    "sources.scan_s", "operators.parse_s", "operators.enrich_s",
    "operators.route_s", "operators.lineage_s",
)
STREAM_LAYERS = {
    "streaming.batches": "count", "streaming.trigger_s_p50": "s",
    "streaming.add_batch_s": "s", "streaming.latest_offset_s": "s",
    "streaming.commit_s": "s", "streaming.query_planning_s": "s",
}
# The layer metrics every traced run of the benchmark's set reports.
LAYER_UNITS = {
    **{name: "s" for name in FLAGSHIP_LAYERS},
    "plans.pipeline.sink_s": "s",
    **STREAM_LAYERS,
}

GUARD_FAULT = (
    "FLAGSHIP_SPEC guard_regex ^\\d rejects nginx lines whose client field "
    "does not begin with a digit, so their 5xx rows miss sink_errors"
)


def all_layers(measured: dict[str, float], units: dict[str, str]) -> dict[str, tuple[float, str]]:
    """The set's layer metrics plus any the workload adds; a layer the
    workload does not run did no work and reads 0."""
    units = {**LAYER_UNITS, **units}
    return {name: (float(measured.get(name, 0.0)), unit) for name, unit in units.items()}


# Main ops after the cold one that only warm the JVM up: on the seed code
# the second op of a run is still 10-30 % slower than the ones after it.
WARMUP_OPS = 1


def measured(main_ops: list) -> list:
    """The main ops that count: not the cold one, not the warm-up ones."""
    return main_ops[1 + WARMUP_OPS:]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _snapshot(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), root)] = (st.st_size, st.st_mtime_ns)
    return out


class FlagshipBatch:
    main_op = "plans.pipeline.run_pipeline"
    layer_units: dict[str, str] = {}

    def __init__(self, bench):
        self.b = bench
        self.n = 0

    def prepare(self, con) -> None:
        self.con = con
        self.src_dir, self.edge_dir = self.b.path("transcripts"), self.b.path("edge")
        rows = gen.write_flagship(con, self.b.seed, FLAGSHIP_CONVS, self.src_dir)
        gen.write_edge(con, self.edge_dir)
        self.expected = checks.expect_flagship(con, self.src_dir, "want_main")
        self.expected_edge = checks.expect_flagship(con, self.edge_dir, "want_edge")
        self.b.log_inputs(f"{rows} turns")

    def register(self, spark) -> None:
        from ilogtail_spark.plans import pipeline

        self.pipeline = pipeline
        self.src = spark.read.parquet(self.src_dir)
        self.edge = spark.read.parquet(self.edge_dir)

    def expect(self) -> None:
        pass

    def _op(self, df, expected, fault, rerun=False):
        self.n += 1
        run_id, out = f"run-{self.n}", self.b.path("ops", f"flagship-{self.n}")
        spark = self.b.spark

        def run():
            return self.pipeline.run_pipeline(spark, df, self.pipeline.FLAGSHIP_SPEC, out, run_id=run_id)

        def check(counts):
            errs = checks.check_flagship(self.con, out, counts, expected)
            if rerun:
                before = _snapshot(out)
                again = self.pipeline.run_pipeline(
                    spark, df, self.pipeline.FLAGSHIP_SPEC, out, run_id=run_id)
                if again != counts:
                    errs.append(f"re-run of committed {run_id} returned {again}, not {counts}")
                if _snapshot(out) != before:
                    errs.append(f"re-run of committed {run_id} changed the sink files")
            shutil.rmtree(out, ignore_errors=True)
            return errs

        kind = self.main_op if fault is None else self.main_op + "[guard_edge]"
        return kind, run, check, fault

    def round(self):
        # the edge op runs second: it warms the same run_pipeline path up
        # before the measured ops, at no extra cost
        n = FLAGSHIP_OPS_PER_ROUND
        ops = [self._op(self.src, self.expected, None, rerun=i == n - 1) for i in range(n)]
        return ops[:1] + [self._op(self.edge, self.expected_edge, GUARD_FAULT)] + ops[1:]

    def layers(self) -> dict[str, float]:
        """Cumulative-prefix timings with a noop sink, interleaved reps."""
        from ilogtail_spark.operators.aggregate import add_lineage
        from ilogtail_spark.operators.enrich import dict_map
        from ilogtail_spark.operators.parse import regex_parse

        spec = self.pipeline.FLAGSHIP_SPEC
        fns = {"regex": regex_parse, "dict_map": dict_map}

        def apply(df, procs):
            for p in procs:
                args = dict(p)
                df = fns[args.pop("type")](df, **args)
            return df

        procs = spec["processors"]
        src = self.src
        parsed = lambda: apply(src, procs[:1])  # noqa: E731
        enriched = lambda: apply(parsed(), procs[1:])  # noqa: E731
        routed = lambda: self.pipeline.apply_router(enriched(), spec["router"])  # noqa: E731
        prefixes = {
            "sources.scan_s": lambda: src,
            "operators.parse_s": parsed,
            "operators.enrich_s": enriched,
            "operators.route_s": routed,
            "operators.lineage_s": lambda: add_lineage(routed(), spec["lineage"]),
        }
        times = {name: [] for name in prefixes}
        for rep in range(1 + PREFIX_REPS):  # rep 0 only warms the noop plans up
            for name, build in prefixes.items():
                t = self.b.timed_noop(name.rsplit("_s", 1)[0], build)
                if rep:
                    times[name].append(t)
        cum = [_median(times[name]) for name in prefixes]
        out = {name: cum[i] - (cum[i - 1] if i else 0.0) for i, name in enumerate(prefixes)}
        warm = [r["wall_s"] for r in measured([r for r in self.b.records if r["kind"] == self.main_op])]
        out["plans.pipeline.sink_s"] = _median(warm) - cum[-1]
        return out


class YamlKvStream:
    main_op = "plans.config.run_ilogtail_config_stream"
    layer_units: dict[str, str] = {}
    FLUSHERS = [
        {"Type": "flusher_sls", "Match": {"Type": "tag", "Key": "level", "Value": "ERROR"}},
        {"Type": "flusher_kafka", "Match": {"Type": "tag", "Key": "svc", "Value": "api"}},
        {"Type": "flusher_file"},
    ]
    ALL_FLUSHER = "flusher_2_flusher_file"

    def __init__(self, bench):
        self.b = bench
        self.n = 0
        self.progress_by_op: list[list[dict]] = []

    def config_yaml(self) -> str:
        import json

        flushers = "\n".join(f"  - {json.dumps(f)}" for f in self.FLUSHERS)
        return f"""\
enable: true
inputs:
  - Type: input_file
    FilePaths: ["{self.log_dir}"]
processors:
  - Type: processor_split_key_value
    SourceKey: content
    Delimiter: "\\t"
    Separator: ":"
    Keys: [seq, level, svc, code, msg]
  - Type: processor_dict_map
    SourceKey: level
    DestKey: severity
    MapDict: {{ERROR: high, WARN: medium, INFO: low}}
    HandleMissing: true
    Missing: none
flushers:
{flushers}
"""

    def prepare(self, con) -> None:
        self.con = con
        self.log_dir = self.b.path("kv_logs")
        n = gen.write_kv_logs(con, self.b.seed, KV_FILES, KV_LINES, self.log_dir)
        self.expected = checks.expect_stream(con, self.log_dir, self.FLUSHERS, "want_stream")
        self.b.log_inputs(f"{n} log lines in {KV_FILES} files")

    def register(self, spark) -> None:
        from ilogtail_spark.plans import config

        self.config = config
        self.yaml = self.config_yaml()
        if self.b.trace:
            from probes import stream_listener

            self.listener, self.progress, self.done = stream_listener(spark)

    def expect(self) -> None:
        pass

    def _op(self):
        self.n += 1
        out = self.b.path("ops", f"stream-{self.n}")
        spark = self.b.spark

        def run():
            if self.b.trace:
                self.done.clear()
                first = len(self.progress)
            self.config.run_ilogtail_config_stream(
                spark, self.yaml, out_dir=out, timeout_sec=STREAM_TIMEOUT_S
            )
            if self.b.trace:
                self.done.wait(10)
                self.progress_by_op.append(self.progress[first:])
            return out

        def check(out_dir):
            errs = checks.check_stream(self.con, out_dir, self.expected, self.ALL_FLUSHER)
            shutil.rmtree(out_dir, ignore_errors=True)
            return errs

        return self.main_op, run, check, None

    def round(self):
        return [self._op() for _ in range(STREAM_OPS_PER_ROUND)]

    def layers(self) -> dict[str, float]:
        warm = measured(self.progress_by_op)

        def per_op(*keys):
            return _median([sum(p["ms"].get(k, 0) for p in op for k in keys) / 1e3 for op in warm])

        return {
            "streaming.batches": _median([len(op) for op in warm]),
            "streaming.trigger_s_p50": _median(
                [p["ms"].get("triggerExecution", 0) / 1e3 for op in warm for p in op]),
            "streaming.add_batch_s": per_op("addBatch"),
            "streaming.latest_offset_s": per_op("latestOffset"),
            "streaming.commit_s": per_op("walCommit", "commitOffsets"),
            "streaming.query_planning_s": per_op("queryPlanning"),
        }


class RegistryMix:
    main_op = "queries.pass"
    layer_units = {
        **{f"queries.{q}_s": "s" for q in REGISTRY_QUERIES},
        "sources.transcripts_synth_s": "s",
        "spark.materialized_bytes": "bytes",
    }

    def __init__(self, bench):
        self.b = bench
        self.passes: list[dict] = []  # per pass: query -> seconds, plus held bytes

    def prepare(self, con) -> None:
        self.con = con
        self.sf_dir = self.b.path("registry")
        gen.write_registry(con, self.b.seed, REG_EVENTS, REG_USERS, REG_DOCS, self.sf_dir)
        for t in ("events", "documents"):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        self.b.log_inputs(f"{REG_EVENTS} events, {REG_DOCS} documents")

    def register(self, spark) -> None:
        from ilogtail_spark import queries

        self.queries = queries
        for t in ("events", "documents"):
            spark.read.parquet(f"{self.sf_dir}/{t}.parquet").createOrReplaceTempView(t)

    def expect(self) -> None:
        self.expected = {
            q: checks.expect_oracle(self.con, self.queries.ORACLES[q]) for q in REGISTRY_QUERIES
        }

    def _op(self):
        spark, tracer = self.b.spark, self.b.tracer

        def run():
            import time

            results, held, times = {}, {}, {}
            for q in REGISTRY_QUERIES:
                t0 = time.perf_counter()
                with tracer.span(f"queries.{q}"):
                    df = self.queries.QUERIES[q](spark, self.sf_dir)
                    results[q] = (df.collect(), df.dtypes)
                if self.b.stats:
                    for rdd, size in self.b.stats.cached_bytes().items():
                        held[rdd] = max(held.get(rdd, 0), size)
                del df
                times[q] = time.perf_counter() - t0
            self.passes.append({"times": times, "held": sum(held.values())})
            return results

        def check(results):
            return [
                f"{q}: {e}" for q in REGISTRY_QUERIES
                for e in checks.check_oracle(*results[q], self.expected[q])
            ]

        return self.main_op, run, check, None

    def round(self):
        return [self._op() for _ in range(REGISTRY_PASSES_PER_ROUND)]

    def layers(self) -> dict[str, float]:
        from ilogtail_spark.sources.transcripts import transcripts_df

        warm = measured(self.passes)
        out = {f"queries.{q}_s": _median([p["times"][q] for p in warm]) for q in REGISTRY_QUERIES}
        out["sources.transcripts_synth_s"] = _median([
            self.b.timed_noop("sources.transcripts", lambda: transcripts_df(self.b.spark, self.sf_dir))
            for _ in range(SYNTH_REPS)
        ])
        out["spark.materialized_bytes"] = _median([p["held"] for p in warm])
        return out


WORKLOADS = {
    "flagship_batch": FlagshipBatch,
    "yaml_kv_stream": YamlKvStream,
    "registry_mix": RegistryMix,
}
