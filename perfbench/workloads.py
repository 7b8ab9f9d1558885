"""The benchmark's workloads.

Every workload is a closed loop with one client on Spark ``local[N]``:
the next operation starts only when the previous one has returned. The
program is driven only through its public entry points —
``plans.registry.all_queries()``, ``Warehouse``, ``SyncPipeline``, the
stage functions in ``__main__`` and ``serving.api`` — and never patched.

A run sets up ``ROUNDS`` times (session start, input preparation,
prewarm) and keeps the median, runs one untimed warm-up pass, then
whole timed passes until ``seconds`` have passed and at least the
workload's minimum, so every run holds the same mix of operations.
Output checks run after the timed passes and are never timed.

An operation is a DataFrame build followed by an action: ``build()`` +
``toPandas()`` for a registry query, ``compute_*`` + ``collect()`` for a
serve request.
"""

from __future__ import annotations

import functools
import gc
import math
import os
import random
import time

import chain
import checks
import stats
from tracer import SparkCounters, Tracer

ROUNDS = 3
# registry input: a byte-identical copy of the project's sf0.01 test
# data, checked against its SHA256SUMS before the run starts
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# registry_reads: queries by family. "chain" is the reference's own
# query surface (registry modules outside plans/pipeline.py); "corpus"
# is the training-data operator pack in plans/pipeline.py, whose
# build() runs eager checkpoint jobs and crosses into Python workers.
READ_QUERIES = {
    "pricing_summary": "chain",             # relational
    "compat_insights_panels": "chain",      # compat_queries
    "abi_decode_transfer": "chain",         # chainops, Python UDF
    "dedup_components": "corpus",           # eager checkpoints in build
    "clean_corpus_e2e": "corpus",           # the end-to-end cleaner
}
# median over passes: one pass slowed by a neighbour on the host does
# not move the result. Five queries x five passes is an odd sample
# count, so the median latency is one query's middle sample, not the
# mean of two different queries.
READ_PASSES = 5

# sync_serve: each pass runs one sync pass (the head advances by
# chain.BLOCKS_PER_PASS), re-registers the views and serves BETWEEN
# through the FINAL window, then compacts the served tables (the
# cadence is one compaction per sync pass; its time counts as sync
# time), re-registers the views and serves COMPACTED dedup-free. The
# pipeline's own compact_every cadence is not used: it compacts inside
# run_once, before any request could read the FINAL window. Most
# requests land between compactions, so the median latency sits inside
# the FINAL-window balances mode.
SERVED = ("internal_transaction", "token_transaction")
BETWEEN = ("balances", "tokens") + ("balances",) * 7
COMPACTED = ("balances",)
SAMPLE_ADDRESSES = 5


class Bench:
    """State of one benchmark process: session, tracer, results."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool, cpus: int):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.cpus = cpus
        self.tracer = Tracer(trace)
        self.spark = None
        self.counters = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.extra: dict[str, object] = {}

    def new_session(self) -> None:
        from ethereum_analytical_db_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            app_name="perfbench",
            cpus=self.cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer.enabled:
            self.counters = SparkCounters(self.spark)

    def stop(self) -> None:
        if self.spark is not None:
            if self.counters is not None:
                self.layer["session.jvm_peak_rss_mb"] = self.counters.jvm_peak_rss_mb()
            self.spark.stop()
            self.spark = None
        _stop_jvm()

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.problems.append(what)

    def setup(self, prepare) -> None:
        """ROUNDS set-ups of session start + ``prepare(round)``; the first
        also launches the JVM."""
        rounds = []
        for r in range(ROUNDS):
            t0 = time.perf_counter()
            with self.tracer.span("session.start", request=f"setup{r}"):
                self.new_session()
            if r == 0:
                self.layer["session.start_s"] = time.perf_counter() - t0
            with self.tracer.span("session.prepare", request=f"setup{r}"):
                prepare(r)
            rounds.append(time.perf_counter() - t0)
        self.extra["setup_rounds_s"] = rounds
        self._setup_s = stats.median(rounds)

    def warm_up(self, one_pass) -> None:
        """The untimed warm-up pass; setup_s is the median set-up round
        plus this pass."""
        t0 = time.perf_counter()
        one_pass("warmup")
        warm = time.perf_counter() - t0
        self.layer["session.warmup_s"] = warm
        self.e2e["setup_s"] = self._setup_s + warm

    def call(self, name: str, fn, jobs: dict):
        """``fn()`` inside a span; returns (result, seconds). When tracing
        it runs under a fresh job group whose job, stage and task counts
        are added to ``jobs`` after the timed call."""
        group = self.counters.start() if self.counters is not None else None
        try:
            with self.tracer.span(name):
                t0 = time.perf_counter()
                out = fn()
                return out, time.perf_counter() - t0
        finally:
            if group is not None:
                self.counters.stop()
                for k, v in self.counters.jobs(group).items():
                    jobs[k] = jobs.get(k, 0) + v

    def op(self, acc: dict, name: str, request: str, build, action):
        """One operation: build a DataFrame, run its action. Returns the
        action's result and adds timings and counters to ``acc``; a
        failure is counted and returns None."""
        with self.tracer.span(name, request=request):
            self.attempted += 1
            try:
                df, build_s = self.call("plans.build", build, acc["build_jobs"])
                out, collect_s = self.call("exec.collect", lambda: action(df),
                                           acc["exec_jobs"])
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                self.fail(f"{request}: {type(exc).__name__}: {exc}"[:300])
                return None
        acc["build_s"] += build_s
        acc["collect_s"] += collect_s
        acc["lat"].append(build_s + collect_s)
        acc["rows"] += len(out)
        if self.counters is not None:
            for k, v in self.counters.phases(df).items():
                acc[k] += v
        return out


# job groups a pass counts Spark jobs in: QueryDef.build / compute_*,
# their action, SyncPipeline.run_once, Warehouse.compact
JOB_GROUPS = ("build_jobs", "exec_jobs", "sync_jobs", "compact_jobs")


def new_acc() -> dict:
    return {"build_s": 0.0, "collect_s": 0.0, "rows": 0, "lat": [],
            "analysis": 0.0, "optimization": 0.0, "planning": 0.0,
            **{group: {} for group in JOB_GROUPS}}


def timed_passes(b: Bench, one_pass, at_least: int = 1) -> list[dict]:
    """Whole passes until ``b.seconds`` have passed, and at least
    ``at_least`` of them."""
    passes: list[dict] = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < b.seconds or len(passes) < at_least:
        gc.collect()  # at a fixed point, not inside some timed call
        passes.append(one_pass(f"pass{len(passes)}"))
    return passes


def summarize(b: Bench, passes: list[dict]) -> None:
    """End-to-end latency and the per-layer metrics every workload has."""
    lat = [x for p in passes for x in p["lat"]]
    b.e2e["latency_p50_s"] = stats.median(lat)
    tail = stats.highest_percentile(lat)
    b.extra.update(samples=len(lat), passes=len(passes), latencies_s=lat,
                   latency_tail={"p": tail[0], "s": tail[1]} if tail else None)

    def med(f) -> float:
        return stats.median([f(p) for p in passes])

    b.layer["plans.build_s"] = med(lambda p: p["build_s"])
    b.layer["plans.build_share"] = med(lambda p: p["build_s"] / p["pass_s"])
    b.layer["exec.collect_s"] = med(lambda p: p["collect_s"])
    b.layer["exec.result_rows"] = med(lambda p: p["rows"])
    if b.counters is None:
        return
    b.layer["plans.build_jobs"] = med(lambda p: p["build_jobs"].get("jobs", 0))
    for k in ("jobs", "stages", "tasks"):
        b.layer[f"exec.{k}"] = med(lambda p: sum(
            p[group].get(k, 0) for group in JOB_GROUPS))
    for k in ("analysis", "optimization", "planning"):
        b.layer[f"catalyst.{k}_ms"] = med(lambda p: p[k])


# ---- registry_reads ------------------------------------------------------


def run_reads(b: Bench) -> None:
    from ethereum_analytical_db_spark.plans.registry import all_queries

    registry = all_queries()
    defs = [registry[n] for n in READ_QUERIES]
    sf = SF_DIR
    checks.verify_inputs(sf)

    def prepare(r: int) -> None:
        for q in defs:
            if q.prewarm is not None:
                q.prewarm(b.spark, sf)

    b.setup(prepare)
    rng = random.Random(b.seed)
    results: dict[str, list] = {q.name: [] for q in defs}

    def one_pass(tag: str) -> dict:
        order = list(defs)
        rng.shuffle(order)
        acc = new_acc()
        acc["query_s"] = {}
        acc["family"] = {f: [0.0, 0.0] for f in set(READ_QUERIES.values())}
        t0 = time.perf_counter()
        with b.tracer.span("pass", request=tag):
            for q in order:
                n_lat, build0 = len(acc["lat"]), acc["build_s"]
                out = b.op(acc, "query", f"{tag}.{q.name}",
                           functools.partial(q.build, b.spark, sf),
                           lambda df: df.toPandas())
                if out is None:
                    continue
                results[q.name].append(out)
                fam = acc["family"][READ_QUERIES[q.name]]
                fam[0] += acc["build_s"] - build0
                fam[1] += acc["lat"][n_lat]
                acc["query_s"][q.name] = acc["lat"][n_lat]
                # release localCheckpoint blocks pinned by py4j handles
                gc.collect()
        acc["pass_s"] = time.perf_counter() - t0
        return acc

    b.warm_up(one_pass)
    passes = timed_passes(b, one_pass, READ_PASSES)
    b.e2e["rate_per_s"] = stats.median([len(p["lat"]) / p["pass_s"] for p in passes])
    summarize(b, passes)
    b.extra["query_s"] = {
        name: stats.median([p["query_s"][name] for p in passes
                            if name in p["query_s"]])
        for name in READ_QUERIES if any(name in p["query_s"] for p in passes)
    }
    b.extra["build_share_by_family"] = {
        fam: stats.median([p["family"][fam][0] / p["family"][fam][1]
                           for p in passes if p["family"][fam][1]])
        for fam in sorted(set(READ_QUERIES.values()))
    }

    for name, outs in results.items():
        bad = checks.check_query(registry[name], sf, outs)
        if bad:  # every execution of a wrong query counts as failed
            b.fail(f"{name}: {bad}", n=max(len(outs), 1))


# ---- sync_serve ----------------------------------------------------------


def run_sync_serve(b: Bench) -> None:
    from ethereum_analytical_db_spark import __main__ as cli
    from ethereum_analytical_db_spark.catalog import Warehouse
    from ethereum_analytical_db_spark.serving import api
    from ethereum_analytical_db_spark.sources.rpc import FileJsonRpcTransport
    from ethereum_analytical_db_spark.streaming.incremental import SyncPipeline

    state = {}
    # a pass takes well over two seconds; one more pass is the warm-up
    max_passes = 2 + math.ceil(b.seconds / 2)

    def prepare(r: int) -> None:
        fx = os.path.join(b.work, f"rpc{r}")
        model = chain.write_fixtures(b.seed, fx, max_passes)
        state.update(fx=fx, model=model,
                     wh=Warehouse(b.spark, os.path.join(b.work, f"wh{r}")))

    b.setup(prepare)
    wh, model = state["wh"], state["model"]
    factory = functools.partial(FileJsonRpcTransport, state["fx"])
    rng = random.Random(b.seed)
    head = {"value": -1}
    stage_s: dict[str, float] = {}

    def timed(name, fn):
        def stage(w):
            t = time.perf_counter()
            with b.tracer.span(name):
                fn(w)
            stage_s[name] = time.perf_counter() - t
        return stage

    stages = [
        ("blocks", timed("sync.blocks",
                         lambda w: cli.extract_blocks(w, factory, head["value"]))),
        ("traces", timed("sync.traces", lambda w: cli.extract_traces(w, factory))),
        ("events", timed("sync.events",
                         lambda w: cli.extract_events(w, factory, chain.RANGE_SIZE))),
    ]
    pipe = SyncPipeline(wh, stages,
                        derived_refresh=timed("derived.refresh", cli.derived_refresh))
    served: list[tuple] = []  # (head, kind, arg, answer) for the output checks
    written: dict[str, int] = {}  # parquet file -> size, for write amplification

    def burst(acc: dict, tag: str, kinds: tuple) -> None:
        dedup_free = all(wh.is_dedup_free(t) for t in SERVED)
        if b.tracer.enabled:
            acc["read_amp"].append(_read_amp(wh))
        for i, kind in enumerate(kinds):
            if kind == "balances":
                arg = rng.sample(model.addresses, SAMPLE_ADDRESSES)
                build = functools.partial(api.compute_balances, b.spark, arg)
            else:
                arg = model.tokens[rng.randrange(len(model.tokens))][0]
                build = functools.partial(api.compute_token_balances, b.spark, arg)
            n_lat = len(acc["lat"])
            rows = b.op(acc, f"serving.{kind}", f"{tag}{i}", build,
                        lambda df: df.collect())
            if rows is None:
                continue
            acc["served"].append((kind, dedup_free, acc["lat"][n_lat]))
            served.append((head["value"], kind, arg,
                           {r["address"]: r["balance"] for r in rows}))

    def sync(acc: dict, tag: str) -> None:
        """One ``run_once``, the head advanced by one window."""
        if pipe.passes >= max_passes:
            raise RuntimeError(f"fixtures cover only {max_passes} sync passes")
        stage_s.clear()
        head["value"] = chain.head(pipe.passes + 1)
        with b.tracer.span("sync.pass", request=tag):
            b.attempted += 1
            _, acc["sync_s"] = b.call("sync.run_once", pipe.run_once,
                                      acc["sync_jobs"])
        acc["stages"] = dict(stage_s)
        if b.tracer.enabled:
            acc["bytes_written"] += _new_bytes(wh.root, written)

    def compact(acc: dict, tag: str) -> None:
        with b.tracer.span("compact.pass", request=tag):
            b.attempted += 1
            _, acc["compact_s"] = b.call(
                "catalog.compact", lambda: [wh.compact(t) for t in SERVED],
                acc["compact_jobs"])
        if b.tracer.enabled:
            acc["bytes_written"] += _new_bytes(wh.root, written)

    def register(acc: dict, tag: str) -> None:
        t0 = time.perf_counter()
        with b.tracer.span("catalog.register_views", request=f"{tag}.views"):
            wh.register_views()
        acc["register_views_s"].append(time.perf_counter() - t0)

    def one_pass(tag: str, between: tuple = BETWEEN) -> dict:
        """Sync pass, view registration, burst through the FINAL window;
        compaction, view registration, dedup-free burst."""
        acc = new_acc()
        acc.update(served=[], read_amp=[], register_views_s=[], bytes_written=0)
        t0 = time.perf_counter()
        sync(acc, f"{tag}.sync")
        register(acc, f"{tag}.sync")
        burst(acc, f"{tag}.between", between)
        compact(acc, f"{tag}.compact")
        register(acc, f"{tag}.compact")
        burst(acc, f"{tag}.compacted", COMPACTED)
        acc["pass_s"] = time.perf_counter() - t0
        return acc

    def warm_up(tag: str) -> None:
        """Write the token dimension and run one pass with one request of
        each kind per burst: its sync is the backfill, and every serve
        plan runs once."""
        dim = [(addr, f"Token{i}", f"T{i}", dec, 10**9, None, None, None)
               for i, (addr, dec) in enumerate(model.tokens)]
        wh.write("contract_description", b.spark.createDataFrame(
            dim, "id string, token_name string, token_symbol string, decimals byte, "
                 "total_supply long, token_owner string, cmc_id string, "
                 "website_slug string"))
        one_pass(tag, between=("balances", "tokens"))

    b.warm_up(warm_up)
    passes = timed_passes(b, one_pass)
    b.e2e["rate_per_s"] = (len(passes) * chain.BLOCKS_PER_PASS
                           / sum(p["sync_s"] + p["compact_s"] for p in passes))
    summarize(b, passes)

    if b.tracer.enabled:
        # counting live rows costs a job per table: traced runs only
        live_rows = sum(wh.read(t).count() for t in _tables(wh))
        size, files = _disk(wh.root)
        b.extra["stored_bytes_per_row"] = size / max(live_rows, 1)
        b.extra["sync"] = _sync_layers(passes, size, files, written)

    for h, kind, arg, got in served:
        if kind == "balances":
            want = model.balances(h)
            want = {a: want[a] for a in arg if a in want}
        else:
            want = model.token_balances(h, arg)
        bad = checks.compare_balances(got, want)
        if bad:
            b.fail(f"serve {kind} at head {h}: {bad}")


def _sync_layers(passes: list[dict], size: int, files: int, written: dict) -> dict:
    """The sync_serve-only per-layer numbers of a traced run."""

    def med(values):
        values = list(values)
        return stats.median(values) if values else None

    def stage(name):
        return med(p["stages"].get(name, 0.0) for p in passes)

    served = [x for p in passes for x in p["served"]]

    def serve_s(kind, dedup_free=None):
        return med(s for k, free, s in served
                   if k == kind and dedup_free in (None, free))

    return {
        "sync.blocks_s": stage("sync.blocks"),
        "sync.traces_s": stage("sync.traces"),
        "sync.events_s": stage("sync.events"),
        "sync.jobs": med(p["sync_jobs"].get("jobs", 0) for p in passes),
        "derived.refresh_s": stage("derived.refresh"),
        "catalog.compact_s": med(p["compact_s"] for p in passes),
        "catalog.compact_jobs": med(p["compact_jobs"].get("jobs", 0) for p in passes),
        "catalog.register_views_s": med(x for p in passes for x in p["register_views_s"]),
        "catalog.dedup_free_ratio": sum(free for _, free, _ in served) / len(served),
        "catalog.read_amp": med(x for p in passes for x in p["read_amp"]),
        "catalog.bytes_written": sum(p["bytes_written"] for p in passes),
        "catalog.write_amp": sum(written.values()) / max(size, 1),
        "catalog.files": files,
        "serving.balances_s": serve_s("balances"),
        "serving.token_balances_s": serve_s("tokens"),
        "serving.jobs": med(
            p["build_jobs"].get("jobs", 0) + p["exec_jobs"].get("jobs", 0)
            for p in passes),
        "serving.balances_dedup_free_s": serve_s("balances", True),
        "serving.balances_not_dedup_free_s": serve_s("balances", False),
    }


def _stop_jvm() -> None:
    """End the gateway JVM (it exits when its stdin closes) and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _tables(wh) -> list[str]:
    from ethereum_analytical_db_spark import schemas

    return [t for t in schemas.TABLES if wh.exists(t)]


def _read_amp(wh) -> float:
    """Raw rows over FINAL rows across the served tables."""
    raw = sum(wh.read(t, final=False).count() for t in SERVED)
    final = sum(wh.read(t, final=True).count() for t in SERVED)
    return raw / max(final, 1)


def _new_bytes(root: str, seen: dict[str, int]) -> int:
    """Bytes of parquet files under ``root`` not seen before; parquet
    files are never rewritten in place, so these were just written."""
    new = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                if p not in seen:
                    seen[p] = os.path.getsize(p)
                    new += seen[p]
    return new


def _disk(root: str) -> tuple[int, int]:
    """(bytes, parquet files) under the warehouse root."""
    size = files = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return size, files
