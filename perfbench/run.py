#!/usr/bin/env python3
"""Portfolio-engine benchmark: one closed-loop client over a named mix.

    python3 perfbench/run.py --workload portfolio_read --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. Each run:

1. makes a private directory under ``.perfbench/`` holding the run's
   ``TMPDIR``, ``SPARK_LOCAL_DIRS``, warehouse and event log, and
   removes it on exit;
2. checks the ten input tables under ``perfbench/data/sf<sf>/``
   against ``perfbench/data/SHA256SUMS`` and loads every op's expected
   result hash: the registry's DuckDB oracle, canonicalised by the
   strict compare of ``tools/driver_sim.py``, computed once per
   checkout and cached under ``.perfbench/oracle/``;
3. sets up: builds the session on ``local[<cores>]`` and runs one pass
   of the mix, so codegen and JIT are warm (``setup_s``);
4. runs rounds of the mix, each a seeded shuffle, one op at a time
   (``plans.get(name).fn(spark, data).collect()``), until the ops'
   summed wall time reaches ``--seconds``; the round in progress is
   finished so every op is sampled equally often;
5. checks each op's rows against the oracle; a wrong result or an
   exception counts as failed.

``--seed`` sets the op order of every round; the inputs are the same
tables on every run.

With ``--trace 1`` the layer wrappers of ``tracing.py`` and Spark's event
log are on, rounds alternate between recording and not recording, and
the per-layer metrics are printed instead of the end-to-end ones.

Standard output ends with one JSON line:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import inspect  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Op lists in registry order; each round plays a seeded shuffle of them.
WORKLOADS = {
    # Interactive read path: planning + scans + read operators; no
    # txnlog commits, no datapipe.
    "portfolio_read": [
        "a1_pricing_summary", "a4_beta", "a5_correlation_matrix",
        "stats_bundle_cov_beta", "j7_a7_market_value", "j7_asof_latest",
        "u1_linreg_fit", "e10_forecast_horizon", "w2_returns_panel",
        "s8_chart_daily_close", "s2_point_lookup", "f4_ilike_search",
        "o2_topk", "f8_analog_acl",
    ],
    # Writes beside reads: trading fold, mutation, txnlog commits and
    # statistics-cache upserts behind the same plans layer.
    "trade_write": [
        "u2_apply_trades", "s3_row_append", "s5_upsert",
        "s6_conditional_update", "s13_txnlog_merge_mixed",
        "stats_cached_cov_beta", "s7_cascade_delete",
        "s19_txnlog_bloom_lookup",
    ],
    # Shuffle-heavy batch path: dedup bucket pairs and the graph
    # driver gate, which portfolio_read never reaches.
    "corpus_dedup": [
        "dedup_minhash_lsh", "dedup_cluster_components",
        "dedup_ngram_containment", "reco_copurchase_lift",
        "er_resolve_entities", "split_leakage_safe",
    ],
}

# Inputs: copies of the engine's reference test tables, one directory
# per scale factor, with their digests in data/SHA256SUMS. sf 0.1 is
# what the benchmark measures; sf 0.001 is for the benchmark's own test.
DATA = os.path.join(HERE, "data")
SCALES = ("0.1", "0.001")
# Local-mode driver heap, passed on every run whatever the environment
# says. The engine's default (24g) is sized for 128 GiB hosts; the
# benchmark runs on 16 GiB hosts shared with other work. With 3g, GC
# takes under 3% of executor run time on both benchmarked workloads
# (spark.gc_ms_per_op over spark.executor_run_ms_per_op).
DRIVER_MEMORY = "3g"
# No new round starts after this much wall time, keeping a run well
# inside the 180 s a run may take.
MAX_RUN_S = 140.0


@dataclass
class OpRecord:
    op: str
    round: int
    traced: bool
    latency: float
    ok: bool = False
    error: str | None = None
    wall_start: float = 0.0
    wall_end: float = 0.0
    phases: dict = field(default_factory=dict)
    tmp_bytes_left: int = 0


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", choices=SCALES, default=SCALES[0], help="input scale factor")
    return ap.parse_args(argv)


def isolate(run_dir: str) -> dict[str, str]:
    """Point every scratch location of this process and the JVM and
    Python workers it starts into ``run_dir``."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "events")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_WAREHOUSE"] = dirs["warehouse"]
    # Python data-source and UDF workers import the engine by name.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # The launcher JVM of spark-submit would otherwise write perf data
    # under /tmp; the driver JVM gets the same flag below.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()
    tempfile.tempdir = None
    return dirs


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


def check_inputs(sf: str) -> tuple[str, list[str]]:
    """The sf's data directory and its checksum lines, after checking
    every table against them."""
    with open(os.path.join(DATA, "SHA256SUMS"), encoding="utf-8") as f:
        sums = [ln for ln in f.read().splitlines() if f"sf{sf}/" in ln]
    if not sums:
        raise SystemExit(f"no inputs listed for sf {sf}")
    for line in sums:
        digest, name = line.split()
        with open(os.path.join(DATA, name), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != digest:
                raise SystemExit(f"input {name} does not match SHA256SUMS")
    return os.path.join(DATA, f"sf{sf}"), sums


def result_hash(frame) -> str:
    """Digest of a ``canon`` frame: its column names and string values."""
    payload = json.dumps([list(frame.columns), frame.values.tolist()])
    return hashlib.sha256(payload.encode()).hexdigest()


def expected_hashes(mix: list[str], data_dir: str, sums: list[str], threads: int) -> dict:
    """Each op's oracle result hash, cached under ``.perfbench/oracle/``
    by a key over the inputs, the oracle SQL, DuckDB and ``canon``."""
    import duckdb

    from relational_query_engine_sql_spark import plans
    from relational_query_engine_sql_spark.schemas import DRIVER_TABLES
    from tools.driver_sim import canon

    oracles = plans.all_oracles()
    missing = [op for op in mix if op not in oracles]
    if missing:
        raise SystemExit(f"no oracle for {missing}")
    key = hashlib.sha256(
        json.dumps(
            [sums, {op: oracles[op] for op in mix}, duckdb.__version__, inspect.getsource(canon)]
        ).encode()
    ).hexdigest()
    path = os.path.join(ROOT, ".perfbench", "oracle", f"{key}.json")
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            return json.load(f)
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute(f"SET temp_directory='{os.environ['TMPDIR']}'")
    for t in DRIVER_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    try:
        hashes = {op: result_hash(canon(con.sql(oracles[op]).df())) for op in mix}
    finally:
        con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".part", "w", encoding="utf-8") as f:
        json.dump(hashes, f)
    os.replace(path + ".part", path)
    return hashes


def rows_to_pandas(rows, schema):
    """The frame ``toPandas()`` would give for these collected rows."""
    import pandas as pd
    from pyspark.sql import types as T

    cols = {}
    for i, f in enumerate(schema.fields):
        vals = [r[i] for r in rows]
        t = f.dataType
        if isinstance(t, T.IntegralType):
            dtype = "float64" if None in vals else "int64"
            cols[f.name] = pd.Series(vals, dtype=dtype)
        elif isinstance(t, T.FractionalType) and not isinstance(t, T.DecimalType):
            cols[f.name] = pd.Series(vals, dtype="float64")
        elif isinstance(t, (T.TimestampType, T.TimestampNTZType)):
            cols[f.name] = pd.Series(pd.to_datetime(vals))
        elif isinstance(t, T.BooleanType) and None not in vals:
            cols[f.name] = pd.Series(vals, dtype="bool")
        else:
            cols[f.name] = pd.Series(vals, dtype="object")
    return pd.DataFrame(cols, columns=[f.name for f in schema.fields])


class Runner:
    """Runs ops of one workload against one session and records them."""

    def __init__(self, spark, workload: str, data_dir: str, tracer, tmp_dir: str):
        from relational_query_engine_sql_spark import plans

        self.spark, self.workload, self.data_dir = spark, workload, data_dir
        self.plans, self.tracer, self.tmp_dir = plans, tracer, tmp_dir
        self.records: list[OpRecord] = []
        self.windows: dict[str, tuple[int, float, float]] = {}

    def run(self, op: str, round_no: int, traced: bool, expected=None) -> OpRecord:
        """Run one op. In a recording round, all of the benchmark's own
        per-op tracing work lies inside the timed latency."""
        sc = self.spark.sparkContext
        tr = self.tracer
        op_id = len(self.records)
        group = f"{self.workload}:{op}:{op_id}"
        df = rows = err = None
        phases, tmp_left = {}, 0
        wall0 = time.time()
        t0 = time.perf_counter()
        if traced:
            sc.setJobGroup(group, op)
            tmp_before = dir_bytes(self.tmp_dir)
        tr.enabled, tr.op_id = traced, op_id
        try:
            with tr.span("op"):
                with tr.span("plans.fn"):
                    df = self.plans.get(op).fn(self.spark, self.data_dir)
                with tr.span("plans.collect"):
                    rows = df.collect()
        except Exception as e:  # noqa: BLE001 - a failed op is a result
            err = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
        tr.enabled, tr.op_id = False, None
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            tmp_left = dir_bytes(self.tmp_dir) - tmp_before
            if df is not None:
                from tracing import catalyst_phases

                phases = catalyst_phases(df)
        latency = time.perf_counter() - t0
        wall1 = time.time()
        rec = OpRecord(
            op, round_no, traced, latency, wall_start=wall0, wall_end=wall1,
            phases=phases, tmp_bytes_left=tmp_left,
        )
        if traced:
            self.windows[group] = (op_id, wall0, wall1)
        if err is None and expected is not None:
            from tools.driver_sim import canon

            if result_hash(canon(rows_to_pandas(rows, df.schema))) != expected[op]:
                err = "result differs from the oracle"
        rec.ok = err is None
        rec.error = err
        if err is not None:
            print(f"FAILED {op} (round {round_no}): {err}", file=sys.stderr)
        self.records.append(rec)
        return rec


def end_to_end(timed: list[OpRecord], setup_s: float) -> tuple[dict, list[str]]:
    lat_ms = [r.latency * 1000 for r in timed]
    window = sum(r.latency for r in timed)
    n_ok = sum(r.ok for r in timed)
    n = len(timed)
    metrics = {
        "setup_s": setup_s,
        "ops_per_s": n_ok / window,
        "p50_ms": statistics.median(lat_ms),
    }
    report = [
        f"setup_s    {setup_s:10.3f} s     n=1",
        f"ops_per_s  {metrics['ops_per_s']:10.4f} op/s  n={n} window_s={window:.2f}",
        f"p50_ms     {metrics['p50_ms']:10.1f} ms    n={n}",
    ]
    # p90 needs at least ten samples beyond it.
    if n >= 100:
        p90 = statistics.quantiles(lat_ms, n=10, method="inclusive")[8]
        report.append(f"p90_ms     {p90:10.1f} ms    n={n}")
    else:
        report.append(f"p90_ms     n/a (needs >= 100 samples, have {n})")
    report.append(f"fail_frac  {(n - n_ok) / n:10.4f} ratio n={n}")
    return metrics, report


def per_layer(runner: Runner, tracer, events_dir: str, session_s: float, warmup_s: float) -> dict:
    import tracing

    traced = [r for r in runner.records if r.traced]
    untraced = [r for r in runner.records if not r.traced and r.round >= 0]
    n = len(traced)
    per_op = 1000.0 / n

    selfs = tracing.self_times(tracer.spans)
    dur: dict[str, float] = {}
    calls: dict[str, int] = {}
    self_s: dict[str, float] = {}
    for i, s in enumerate(tracer.spans):
        if s.op_id is None:
            continue
        dur[s.name] = dur.get(s.name, 0.0) + (s.end - s.start)
        calls[s.name] = calls.get(s.name, 0) + 1
        self_s[s.name] = self_s.get(s.name, 0.0) + selfs[i]

    by_op, untagged, peak_mb = tracing.parse_event_log(events_dir, runner.windows)
    tot = tracing.OpEngineStats()
    for st in by_op.values():
        for k in vars(tot):
            setattr(tot, k, getattr(tot, k) + getattr(st, k))

    def mean_phase(p: str) -> float:
        return sum(r.phases.get(p, 0.0) for r in traced) / n

    m = {
        "session.get_spark_s": session_s,
        "bench.warmup_s": warmup_s,
        "plans.fn_ms": dur.get("plans.fn", 0.0) * per_op,
        "plans.collect_ms": dur.get("plans.collect", 0.0) * per_op,
        "catalyst.analysis_ms": mean_phase("analysis"),
        "catalyst.optimization_ms": mean_phase("optimization"),
        "catalyst.planning_ms": mean_phase("planning"),
        "sources.load_table_calls_per_op": calls.get("sources.load_table", 0) / n,
        "sources.load_table_ms": dur.get("sources.load_table", 0.0) * per_op,
        "spark.jobs_per_op": tot.jobs / n,
        "spark.stages_per_op": tot.stages / n,
        "spark.tasks_per_op": tot.tasks / n,
        "spark.shuffle_write_bytes_per_op": tot.shuffle_write / n,
        "spark.shuffle_read_bytes_per_op": tot.shuffle_read / n,
        "spark.spill_bytes_per_op": tot.spill / n,
        "spark.executor_run_ms_per_op": tot.run_ms / n,
        "spark.gc_ms_per_op": tot.gc_ms / n,
        "spark.output_bytes_per_op": tot.output_bytes / n,
        "spark.peak_jvm_heap_mb": peak_mb,
        "spark.untagged_jobs": float(untagged),
        "python.bytes_to_worker_per_op": tot.py_bytes_sent / n,
        "txnlog.commits_per_op": calls.get("txnlog.put_if_absent", 0) / n,
        "txnlog.commit_ms": (
            dur.get("txnlog.put_if_absent", 0.0) + dur.get("txnlog.publish_atomic", 0.0)
        ) * per_op,
        "trading.apply_trades_ms": dur.get("trading.apply_trades", 0.0) * per_op,
        "mutation.cascade_delete_ms": dur.get("mutation.cascade_delete", 0.0) * per_op,
        "stats_cache.hit_ratio": (
            tracer.cache_hits / tracer.cache_probes if tracer.cache_probes else 0.0
        ),
        "graph.connected_components_ms": dur.get("graph.connected_components", 0.0) * per_op,
        "dedup.bucket_pairs_calls_per_op": calls.get("dedup.bucket_pairs", 0) / n,
        "dedup.lsh_candidates_ms": dur.get("dedup.lsh_candidates", 0.0) * per_op,
        "dedup.jaccard_pairs_ms": dur.get("dedup.jaccard_pairs", 0.0) * per_op,
        "tmp.bytes_left_per_op": sum(r.tmp_bytes_left for r in traced) / n,
        "trace.overhead_ms_per_op": 1000.0 * (
            statistics.fmean(r.latency for r in traced)
            - statistics.fmean(r.latency for r in untraced)
        ),
    }
    for name in tracing.SELF_TIME_SPANS:
        m[f"self.{name}_ms"] = self_s.get(name, 0.0) * per_op
    m["operators.self_ms"] = sum(
        self_s.get(name, 0.0) for name in tracing.OPERATOR_SPANS
    ) * per_op
    return m


def write_trace(out_dir: str, tag: str, runner: Runner, tracer) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{tag}.jsonl")
    with open(path, "w", encoding="utf-8") as f:
        for r in runner.records:
            f.write(json.dumps({"kind": "op", **vars(r)}) + "\n")
        for i, s in enumerate(tracer.spans):
            f.write(json.dumps({"kind": "span", "id": i, **vars(s)}) + "\n")
    return path


def _result_path(args: argparse.Namespace, trace: int) -> str:
    name = f"{args.workload}-sf{args.sf}-seed{args.seed}-trace{trace}.json"
    return os.path.join(ROOT, ".perfbench", "results", name)


def save_mean_op_ms(args: argparse.Namespace, mean_ms: float) -> None:
    """Keep an untraced run's mean op latency for a later traced run."""
    path = _result_path(args, args.trace)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"mean_op_ms": mean_ms}, f)


def load_mean_op_ms(args: argparse.Namespace, trace: int) -> float | None:
    try:
        with open(_result_path(args, trace), encoding="utf-8") as f:
            return json.load(f)["mean_op_ms"]
    except (OSError, ValueError, KeyError):
        return None


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM the gateway launched and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        raise SystemExit("--seconds must be positive")
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    if not os.path.isdir(os.path.join(ROOT, "relational_query_engine_sql_spark")):
        raise SystemExit(f"engine package not found under {ROOT}")
    sys.path[:0] = [ROOT, HERE]
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    run_dir = tempfile.mkdtemp(
        prefix=f"run-{args.workload}-{args.seed}-", dir=os.path.join(ROOT, ".perfbench")
    )
    spark = None
    try:
        dirs = isolate(run_dir)
        cpus = len(os.sched_getaffinity(0))
        mix = WORKLOADS[args.workload]

        import tracing

        tracer = tracing.Tracer()
        if args.trace:
            tracing.install(tracer)
        from relational_query_engine_sql_spark.session import get_spark

        t_in0 = time.perf_counter()
        data_dir, sums = check_inputs(args.sf)
        expected = expected_hashes(mix, data_dir, sums, cpus)
        inputs_s = time.perf_counter() - t_in0

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            # The heap starts at its full size, so no run depends on when
            # G1 chose to grow it: over the same ten trade_write seeds this
            # cut the ops_per_s spread from 0.15 to 0.085.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData -Xms{DRIVER_MEMORY}"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if args.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    # zstandard is not installed; the log stays plain JSON.
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": dirs["events"],
                }
            )
        t_s0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus, extra_conf=conf)
        session_s = time.perf_counter() - t_s0
        runner = Runner(spark, args.workload, data_dir, tracer, dirs["tmp"])
        t_w0 = time.perf_counter()
        for op in mix:
            runner.run(op, -1, False)
        warmup_s = time.perf_counter() - t_w0
        print(f"warm-up pass: {warmup_s:.2f} s", file=sys.stderr)
        setup_s = time.perf_counter() - T_START - inputs_s

        rng = random.Random(args.seed)
        # A traced run alternates recording and plain rounds; the seed
        # picks which kind comes first.
        first_traced = rng.random() < 0.5
        window, round_no = 0.0, 0
        min_rounds = 2 if args.trace else 1
        while (window < args.seconds or round_no < min_rounds) and (
            time.perf_counter() - T_START < MAX_RUN_S or round_no < min_rounds
        ):
            order = list(mix)
            rng.shuffle(order)
            traced = bool(args.trace) and (round_no % 2 == 0) == first_traced
            round_s = sum(runner.run(op, round_no, traced, expected).latency for op in order)
            window += round_s
            print(f"round {round_no}: {round_s:.2f} s", file=sys.stderr)
            round_no += 1

        timed = [r for r in runner.records if r.round >= 0]
        failed = sum(not r.ok for r in timed)
        header = (
            f"perfbench workload={args.workload} seed={args.seed} sf={args.sf} "
            f"cpus={cpus} trace={args.trace} rounds={round_no} ops={len(timed)} "
            f"failed={failed}"
        )
        stop_session(spark)
        spark = None

        if args.trace:
            metrics = per_layer(runner, tracer, dirs["events"], session_s, warmup_s)
            path = write_trace(
                os.path.join(ROOT, ".perfbench", "traces"),
                f"{args.workload}-seed{args.seed}",
                runner,
                tracer,
            )
            n_traced = sum(r.traced for r in timed)
            per_run = ("session.get_spark_s", "bench.warmup_s", "spark.peak_jvm_heap_mb")
            # Metrics outside BENCHMARK.json are all layer times in ms.
            units = {m["name"]: m["unit"] for m in wanted}
            report = [
                f"{k:40s} {v:14.3f} {units.get(k, 'ms'):6s} "
                f"n={1 if k in per_run else n_traced}"
                + ("" if k in units else "  (report only)")
                for k, v in metrics.items()
            ]
            report.append(f"spans and op records: {path}")
            plain_ms = load_mean_op_ms(args, trace=0)
            traced_ms = 1000.0 * statistics.fmean(r.latency for r in timed if r.traced)
            report.append(
                "trace.vs_untraced_run_ms_per_op "
                + (
                    f"{traced_ms - plain_ms:14.3f} ms     (report only: recording rounds "
                    "minus the --trace 0 run of this seed, event log included)"
                    if plain_ms is not None
                    else "n/a (report only: needs a --trace 0 run of this seed first)"
                )
            )
        else:
            metrics, report = end_to_end(timed, setup_s)
            save_mean_op_ms(args, 1000.0 * statistics.fmean(r.latency for r in timed))

        missing = [m["name"] for m in wanted if m["name"] not in metrics]
        if missing:
            raise SystemExit(f"metrics listed in BENCHMARK.json not computed: {missing}")
        print(header)
        for line in report:
            print(line)
        for op in mix:
            lat = [r.latency * 1000 for r in timed if r.op == op]
            warm = next(r.latency * 1000 for r in runner.records if r.op == op)
            print(f"  {op:32s} n={len(lat):3d} median_ms={statistics.median(lat):9.1f} warmup_ms={warm:9.1f}")
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": len(timed),
                    "failed": failed,
                    "metrics": {
                        m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                        for m in wanted
                    },
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
