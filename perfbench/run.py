#!/usr/bin/env python3
"""slmpy_spark benchmark: one workload per run, one local SparkSession at a time.

Run from the repository root:

    python3 perfbench/run.py --workload docs_ops --seed 42 --seconds 12 --trace 0

Load model: a closed loop with one client.  The Spark driver calls the
workload's operators one after another through the public
``slmpy_spark.engine`` API, starting another round while less than
``--seconds`` has passed; each operator's wall and CPU time is the median
over the rounds.  Every output is checked, untimed.  The run first prints a JSON context line (host load, sentinel
query, per-operator walls, SLM statistics), then the result as the last
line: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs three
phases in one JVM (untraced local[N]; traced local[N] with Spark's event
log and span labels; untraced local[1]) and reports the per-layer table
(perfbench/sparktrace.py).  ``--smoke`` shrinks every input so the
benchmark's own test runs in minutes.  perfbench/README.md records the
workloads, the layer map and the reference outcomes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

# Import the program before starting a JVM: without it the run fails fast.
import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as oracle  # noqa: E402
from slmpy_spark import engine  # noqa: E402
from slmpy_spark.checkpoint import Checkpointer  # noqa: E402
from slmpy_spark.graph import slm as slm_mod  # noqa: E402
from tests.genfixtures import g_powerlaw_arrays  # noqa: E402

import sparktrace as tr  # noqa: E402


DRIVER_MEM = "6g"
LOAD_WAIT_S = 10.0
# The JIT is still compiling through the first call of each operator (on a
# 4-CPU host the compiler threads take 18 s of CPU in the first SLM call,
# 8 s in the second and about 3 s from then on), so set-up runs every timed
# operator twice before timing.
WARM_PASSES = 2
# Scale-mode SLM on the sf0.001 documents graph (10,698 edges, 21,396
# directed entries): level 0 runs 3 broadcast sweeps, is split and
# aggregated, and level 1 fits the exact finish, about 5-7 s in a warm JVM
# on a 4-CPU host.  Sweeps are driver-bound (about 1.5-2.5 s each at sf0.001
# and at sf0.1 alike), so the small graph keeps every code path while a run
# has room for more than one call (one sf0.1 call, 6 sweeps, takes 15-24 s
# there).  At exact_threshold=15_000 some seeds (1, 303) leave more than
# 15k entries after 3 sweeps and sweep a second level at twice the cost;
# at 20_000 every seed tried (fifteen) takes the same path.
SLM_DOCS = "sf0.001"
SLM_KW = dict(mode="scale", max_sweeps=3, exact_threshold=20_000)
# seed-42 outcome of SLM_KW on sf0.001, recorded when the benchmark was defined
SLM_REF_SEED, SLM_REF_Q, SLM_REF_SWEEPS = 42, 0.202993, 3
PL_SIZE = dict(n=5_000, m_target=20_000)
PL_WARM = dict(n=2_000, m_target=8_000)
PL_SMOKE = dict(n=1_500, m_target=6_000)
# fixed iteration counts (tol=0): every iteration is one checkpointed step
PR_ITERS, LPA_ITERS = 3, 2
OPS_ALL = ("pagerank", "cc", "lpa", "triangles", "slm")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ host


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other machines while this
    machine's CPUs had work, summed over CPUs (/proc/stat `steal`)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def wait_for_quiet(threshold: float, max_wait: float) -> tuple[float, bool]:
    """Wait (bounded) until the 1-minute load drops to `threshold`.
    Returns (load at start, timed_out); a timed-out run is flagged in the
    context line and on stderr, not silently measured."""
    t0 = time.time()
    load = loadavg_1m()
    while load > threshold and time.time() - t0 < max_wait:
        time.sleep(2.0)
        load = loadavg_1m()
    timed_out = load > threshold
    if timed_out:
        log(f"WARNING host busy: loadavg {load:.2f} > {threshold:g} after {max_wait:g}s")
    return load, timed_out


# ------------------------------------------------------------------ spark


def start_session(cpus: int, tmp: str, event_log: str | None = None):
    """bench.py's session settings at local[cpus], with every scratch
    directory under this run's tmp dir (the JVM is launched by the first
    call; later sessions reuse it)."""
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(max(os.cpu_count() or 1, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", DRIVER_MEM)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_log)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def sentinel_s(spark) -> float:
    """bench.py's code-independent host calibration: one parquet scan,
    one shuffle, one aggregation; the second (warm) run is timed."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(DATA, SLM_DOCS, "documents.parquet"))
    q = (
        df.select(F.xxhash64("doc_id").alias("h"), F.length("text").alias("l"))
        .groupBy(F.pmod("h", F.lit(256)).alias("b"))
        .agg(F.sum("l").alias("s"))
    )
    q.count()
    t0 = time.perf_counter()
    q.count()
    return time.perf_counter() - t0


# ------------------------------------------------------------------ checks


class CheckFailed(Exception):
    pass


def require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def vertex_ids(e: pd.DataFrame) -> np.ndarray:
    return np.unique(np.concatenate([e["src"].to_numpy(), e["dst"].to_numpy()]))


def modularity_np(e: pd.DataFrame, label: pd.Series) -> float:
    """Q of a labelling on the symmetrized graph (each directed edge
    counted in both directions), computed in numpy."""
    s, d, w = e["src"].to_numpy(), e["dst"].to_numpy(), e["weight"].to_numpy()
    ls, ld = label.loc[s].to_numpy(), label.loc[d].to_numpy()
    two_m = 2.0 * w.sum()
    intra = 2.0 * w[ls == ld].sum()
    tot = pd.Series(np.concatenate([w, w])).groupby(np.concatenate([ls, ld])).sum()
    return intra / two_m - float((tot.to_numpy() ** 2).sum()) / two_m**2


def cc_fixpoint(e: pd.DataFrame) -> pd.Series:
    """Pure-numpy min-label propagation to its fixpoint."""
    ids = vertex_ids(e)
    s = np.searchsorted(ids, e["src"].to_numpy())
    d = np.searchsorted(ids, e["dst"].to_numpy())
    lab = ids.copy()
    while True:
        new = lab.copy()
        np.minimum.at(new, s, lab[d])
        np.minimum.at(new, d, lab[s])
        if np.array_equal(new, lab):
            return pd.Series(lab, index=ids)
        lab = new


class DuckOracle:
    """The frozen harness's oracle SQL, run in DuckDB over a generated
    edge table: its prelude's documents-derived `edges` CTE is swapped
    for the table and each operator's query body is kept unchanged."""

    def __init__(self, e: pd.DataFrame):
        self.con = duckdb.connect()
        self.con.register("bench_edges", e)
        pre = oracle._SQL_PRELUDE
        self.prelude = (
            "\nWITH RECURSIVE edges AS (SELECT src, dst, weight FROM bench_edges),\n"
            + pre[pre.index("sym AS ("):]
        )

    def query(self, name: str) -> pd.DataFrame:
        sql = oracle.oracle_sql()[name]
        require(sql.startswith(oracle._SQL_PRELUDE), f"oracle {name}: unexpected prelude")
        return self.body(sql[len(oracle._SQL_PRELUDE):])

    def body(self, sql: str) -> pd.DataFrame:
        return self.con.execute(self.prelude + sql).df()

    def close(self) -> None:
        self.con.close()


def check_iter(op: str, ref: dict, result) -> None:
    got = result.toPandas()
    ids = ref["ids"]
    require(got["id"].is_unique and len(got) == len(ids), f"{op}: not one row per vertex")
    got = got.set_index("id").sort_index()
    require(np.array_equal(got.index.to_numpy(), ids), f"{op}: wrong vertex set")
    if op == "pagerank":
        total = float(got["rank"].sum())
        require(abs(total - 1.0) <= 1e-6, f"pagerank: ranks sum to {total}")
        require(np.allclose(got["rank"].to_numpy(), ref["pagerank"], rtol=0, atol=2e-6),
                "pagerank: differs from the oracle")
    elif op == "cc":
        require(np.array_equal(got["component"].to_numpy(), ref["cc"].to_numpy()),
                "cc: differs from the numpy fixpoint")
    elif op == "lpa":
        lab = got["label"]
        require(bool(np.isin(lab.to_numpy(), ids).all()), "lpa: a label is not a vertex id")
        cc = ref["cc"]
        require(np.array_equal(cc.loc[lab.to_numpy()].to_numpy(), cc.loc[lab.index].to_numpy()),
                "lpa: a label crosses components")
        require(np.array_equal(lab.to_numpy(), ref["lpa"]), "lpa: differs from the oracle")


# ------------------------------------------------------------------ workloads


class Workload:
    """A workload builds its input (`build`), warms up (`warmup`: every
    timed call WARM_PASSES times, untimed), computes the expected outputs once
    (`references`, untimed and outside set-up), calls one operator of its
    round (`call`) and checks that call's output (`check`)."""

    ops: tuple[str, ...] = ()

    def __init__(self, seed: int, smoke: bool, tmp: str):
        self.seed, self.smoke, self.tmp = seed, smoke, tmp

    def release(self, inp) -> None:
        inp["edges"].unpersist()

    def warm_calls(self, spark, inp, seed: int) -> None:
        for _ in range(WARM_PASSES):
            for op in self.ops:
                t0 = time.perf_counter()
                self.call(spark, inp, op, seed=seed)
                log(f"warm-up {op}: {time.perf_counter() - t0:.2f}s")


class DocsOps(Workload):
    """sf0.001 documents graph → scale-mode SLM (seed = --seed) and
    triangle_count."""

    ops = ("slm", "triangles")

    def build(self, spark):
        edges = engine.documents_to_edges(spark, os.path.join(DATA, SLM_DOCS)).persist()
        edges.count()
        return {"edges": edges}

    def warmup(self, spark, inp) -> None:
        # the input is already small: warm up on it, under another seed
        self.warm_calls(spark, inp, self.seed + 1)

    def call(self, spark, inp, op: str, seed: int | None = None):
        if op == "triangles":
            return engine.triangle_count(inp["edges"])[0]
        return engine.slm(inp["edges"], seed=self.seed if seed is None else seed, **SLM_KW)

    def references(self, inp) -> dict:
        e = inp["edges"].select("src", "dst", "weight").toPandas()
        duck = DuckOracle(e)
        try:
            tri = int(duck.query("triangle_total")["n_triangles"][0])
        finally:
            duck.close()
        return {"e": e, "ids": vertex_ids(e), "triangles": tri}

    def check(self, ref, op: str, result) -> None:
        if op == "triangles":
            require(result == ref["triangles"], f"triangles: {result} != oracle {ref['triangles']}")
            return
        assign, q = result
        a = assign.toPandas()
        require(a["id"].is_unique, "slm: a vertex has two labels")
        require(np.array_equal(np.sort(a["id"].to_numpy()), ref["ids"]),
                "slm: labels do not cover the vertex set")
        q_ref = modularity_np(ref["e"], a.set_index("id")["community"])
        require(abs(q - q_ref) <= 1e-6, f"slm: reported Q {q} != modularity(labels) {q_ref}")
        sweeps = slm_mod.LAST_RUN_STATS["sweeps"]
        if self.seed == SLM_REF_SEED:
            require(round(q, 6) == SLM_REF_Q and sweeps == SLM_REF_SWEEPS,
                    f"slm: seed-42 outcome Q {q:.6f} / {sweeps} sweeps "
                    f"!= reference {SLM_REF_Q} / {SLM_REF_SWEEPS}")


class PlIterDurable(Workload):
    """Seeded power-law graph → pagerank, cc and lpa, each with a parquet
    Checkpointer."""

    ops = ("pagerank", "cc", "lpa")

    def _edges(self, spark, size: dict, seed: int):
        s, d, w = g_powerlaw_arrays(seed=seed, **size)
        e = pd.DataFrame({"src": s, "dst": d, "weight": w})
        edges = spark.createDataFrame(e, "src long, dst long, weight double").persist()
        edges.count()
        return edges, e

    def build(self, spark):
        edges, e = self._edges(spark, PL_SMOKE if self.smoke else PL_SIZE, self.seed)
        return {"edges": edges, "e": e}

    def warmup(self, spark, inp) -> None:
        edges, _ = self._edges(spark, PL_SMOKE if self.smoke else PL_WARM, self.seed + 1)
        self.warm_calls(spark, {"edges": edges}, self.seed + 1)
        self.release({"edges": edges})

    def release(self, inp) -> None:
        super().release(inp)
        shutil.rmtree(os.path.join(self.tmp, "checkpoints"), ignore_errors=True)

    def _ck(self, spark):
        return Checkpointer(spark, os.path.join(self.tmp, "checkpoints"))

    def call(self, spark, inp, op: str, seed: int | None = None):
        edges = inp["edges"]
        if op == "pagerank":
            out = engine.pagerank(edges, tol=0.0, max_iter=PR_ITERS,
                                  checkpointer=self._ck(spark))
        elif op == "cc":
            out = engine.connected_components(edges, checkpointer=self._ck(spark))
        else:
            out = engine.label_propagation(edges, max_iter=LPA_ITERS,
                                           checkpointer=self._ck(spark))
        out.count()
        return out

    def references(self, inp) -> dict:
        """PageRank and LPA from the frozen harness's unrolled DuckDB SQL at
        this benchmark's iteration counts; CC from a numpy fixpoint."""
        duck = DuckOracle(inp["e"])
        try:
            pr = duck.body(oracle._pagerank_sql(n_iter=PR_ITERS))
            lpa = duck.body(oracle._lpa_sql(rounds=LPA_ITERS))
        finally:
            duck.close()
        return {
            "ids": vertex_ids(inp["e"]),
            "cc": cc_fixpoint(inp["e"]),
            "pagerank": pr.set_index("id").sort_index()["rank"].to_numpy(),
            "lpa": lpa.set_index("id").sort_index()["label"].to_numpy(),
        }

    def check(self, ref, op: str, result) -> None:
        check_iter(op, ref, result)


WORKLOADS = {"docs_ops": DocsOps, "pl_iter_durable": PlIterDurable}


# ------------------------------------------------------------------ phases


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0


def run_round(spark, wl: Workload, inp, ref: dict, tally: Tally, spans=None) -> dict:
    """One timed pass over the workload's operators; returns each
    operator's wall and CPU seconds and the SLM statistics.  Checks run
    untimed."""
    walls, cpus, extra = {}, {}, {}
    pid = jvm_pid(spark)
    for op in wl.ops:
        tally.attempted += 1
        c0 = tr.cpu_s(pid)
        t0 = time.perf_counter()
        try:
            if spans is not None:
                with spans.op_span(op):
                    result = wl.call(spark, inp, op)
            else:
                result = wl.call(spark, inp, op)
            walls[op] = time.perf_counter() - t0
            cpus[op] = tr.cpu_s(pid) - c0
            if op == "slm":
                stats = dict(slm_mod.LAST_RUN_STATS)
                extra = {f"slm.{k}": float(v) for k, v in stats.items()}
                extra["slm.q"] = float(result[1])
                extra["slm.edges_per_s"] = stats["edge_entries_swept"] / walls[op]
            wl.check(ref, op, result)
        except Exception:
            walls.setdefault(op, time.perf_counter() - t0)
            cpus.setdefault(op, tr.cpu_s(pid) - c0)
            tally.failed += 1
            log(f"{op} failed:\n{traceback.format_exc()}")
    return {"walls": walls, "cpus": cpus, **extra}


def setup(cpus: int, wl: Workload, tmp: str):
    """Session start, the input built three times (median kept), and
    WARM_PASSES untimed passes over every timed operator."""
    t0 = time.perf_counter()
    spark = start_session(cpus, tmp)
    session_s = time.perf_counter() - t0
    builds, inp = [], None
    for _ in range(3):
        if inp is not None:
            wl.release(inp)
        t0 = time.perf_counter()
        inp = wl.build(spark)
        builds.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warmup(spark, inp)
    warmup_s = time.perf_counter() - t0
    parts = {
        "setup.session_s": session_s,
        "setup.input_s": statistics.median(builds),
        "setup.warmup_s": warmup_s,
    }
    return spark, inp, parts


def measure(spark, wl, inp, ref, seconds: float, tally: Tally) -> list[dict]:
    """Start rounds while less than `seconds` has passed."""
    rounds, t_start = [], time.perf_counter()
    while not rounds or time.perf_counter() - t_start < seconds:
        rounds.append(run_round(spark, wl, inp, ref, tally))
    return rounds


def summarize(rounds: list[dict]) -> dict:
    """Per-operator medians over the rounds; `wall_s` and `cpu_s` sum
    them."""
    ops = rounds[0]["walls"].keys()
    out = {f"{op}.wall_s": statistics.median(r["walls"][op] for r in rounds) for op in ops}
    out["wall_s"] = sum(out[f"{op}.wall_s"] for op in ops)
    out["cpu_s"] = sum(statistics.median(r["cpus"][op] for r in rounds) for op in ops)
    for k in rounds[-1]:
        if k.startswith("slm."):
            out[k] = statistics.median(r[k] for r in rounds)
    return out


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def stop_jvm() -> None:
    """Stop the Spark JVM this process launched, and wait until it and
    its Python workers have exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    workers = tr.descendants(gw.proc.pid)
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in workers):
        time.sleep(0.2)


def run_untraced(args, wl, tmp, cpus, tally, ctx) -> dict:
    spark, inp, parts = setup(cpus, wl, tmp)
    ref = wl.references(inp)
    ctx["sentinel_s"] = sentinel_s(spark)
    st0 = steal_s()
    rounds = measure(spark, wl, inp, ref, args.seconds, tally)
    ctx["steal_s"] = steal_s() - st0
    summ = summarize(rounds)
    ctx["peak_rss_mb"] = tr.peak_rss_mb(jvm_pid(spark))
    wl.release(inp)
    spark.stop()
    ctx.update(parts, rounds=len(rounds), round_walls=[sum(r["walls"].values()) for r in rounds],
               **summ)
    return {"setup_s": sum(parts.values()), "wall_s": summ["wall_s"], "cpu_s": summ["cpu_s"]}


def run_traced(args, wl, tmp, cpus, tally, ctx) -> dict:
    # phase U: untraced local[N] reference
    spark, inp, parts = setup(cpus, wl, tmp)
    ref = wl.references(inp)
    ctx["sentinel_s"] = sentinel_s(spark)
    base = run_round(spark, wl, inp, ref, tally)
    rss = tr.peak_rss_mb(jvm_pid(spark))
    wl.release(inp)
    spark.stop()

    # phase T: event log + spans, same JVM (warm code caches)
    elog = os.path.join(tmp, "eventlog")
    spark = start_session(cpus, tmp, event_log=elog)
    inp = wl.build(spark)
    spans = tr.Spans(spark.sparkContext)
    spans.install()
    try:
        traced = run_round(spark, wl, inp, ref, tally, spans=spans)
    finally:
        spans.uninstall()
    wl.release(inp)
    spark.stop()
    logs = [os.path.join(elog, f) for f in os.listdir(elog)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    layer = tr.join_event_log(tr.read_event_log(logs[0]), OPS_ALL, spans.op_walls)
    layer.update(tr.span_metrics(spans, OPS_ALL))
    out_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    shutil.copy(logs[0], os.path.join(out_dir, f"eventlog-{args.workload}"))

    # phase S: untraced local[1] leg of the same round
    spark = start_session(1, tmp)
    inp = wl.build(spark)
    single = run_round(spark, wl, inp, ref, tally)
    wl.release(inp)
    spark.stop()

    wall_u = sum(base["walls"].values())
    wall_t = sum(traced["walls"].values())
    wall_1 = sum(single["walls"].values())
    if "slm.q" in base and not base["slm.q"] == single["slm.q"] == traced["slm.q"]:
        tally.failed += 1
        log(f"slm: Q differs across legs {base['slm.q']} {traced['slm.q']} {single['slm.q']}")
    metrics = {**layer, **parts}
    for op in OPS_ALL:
        metrics[f"{op}.wall_s"] = traced["walls"].get(op, 0.0)
    for k in ("sweeps", "levels", "passes", "edge_entries_swept", "q", "edges_per_s"):
        metrics[f"slm.{k}"] = traced.get(f"slm.{k}", 0.0)
    # docs_ops' input build is documents_to_edges + persist + count
    metrics["sources.docs.s"] = parts["setup.input_s"] if isinstance(wl, DocsOps) else 0.0
    metrics["peak_rss_mb"] = rss
    metrics["trace_overhead_frac"] = (wall_t - wall_u) / wall_u
    metrics["scaling_eff_1to4"] = wall_1 / (cpus * wall_u)
    ctx.update(untraced_wall_s=wall_u, traced_wall_s=wall_t, local1_wall_s=wall_1)
    return metrics


# ------------------------------------------------------------------ main


def units(trace: int) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    unit = units(args.trace)

    cpus = os.cpu_count() or 1
    tmp = os.path.join(ROOT, ".perfbench", f"tmp-{uuid.uuid4().hex[:8]}")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    load_start, load_flag = wait_for_quiet(float(cpus), 0.0 if args.smoke else LOAD_WAIT_S)
    ctx = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
           "loadavg_1m_start": load_start, "load_warning": load_flag}
    tally = Tally()
    wl = WORKLOADS[args.workload](args.seed, args.smoke, tmp)
    try:
        run = run_traced if args.trace else run_untraced
        metrics = run(args, wl, tmp, cpus, tally, ctx)
    finally:
        stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
    ctx["loadavg_1m_end"] = loadavg_1m()
    print(json.dumps({"context": ctx}))
    missing = set(unit) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not produced: {sorted(missing)}")
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in unit.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
