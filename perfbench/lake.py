"""Lake workload: Spark ``local[2]`` queries through ``Engine`` over
tables that live only in the metered remote.

A run computes the expected answers once over a plain, uncached read of
the same tables. It then sets an engine up on a fresh cache dir and
warms the JVM with one cold and one warm pass through it, runs warm
passes on that engine for the measured window, and last, twice, sets
an engine up on a fresh cache dir and times one cold pass through it.
Every pass runs four
queries: a Q1 pricing summary, a lineitem/orders/customer join
aggregate, MinHash-LSH near-duplicate clusters, and Q1 again through
``Engine.sql_cached``.
"""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import sys
import time

import gen
from common import (SETUP_REPS, Op, Result, ShapeError, cache_layers,
                    disk_bytes, end_to_end, remote_layers, shares)
from remote import GET, META, PUT, Remote, counts, delta
from trace import Tracer, layer_table

TABLES = ("lineitem", "orders", "customer", "documents")
QUERIES = ("q1", "join", "dedup", "q1_cached")
USES = {"q1": ("lineitem",), "join": ("lineitem", "orders", "customer"),
        "dedup": ("documents",), "q1_cached": ("lineitem",)}
MIN_WARM_PASSES = 2
# CPUs the run is pinned to, Spark's local[N]. On a 4-CPU shared host,
# warm-pass throughput spread 16 % over six runs unpinned on local[4] and
# 10 % pinned to two CPUs on local[2]; cold passes 17 % and 7 %.
CPUS = 2

Q1 = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       sum(l_extendedprice) AS sum_base_price,
       sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
       sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
       avg(l_quantity) AS avg_qty, avg(l_discount) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

JOIN = """
SELECT c_mktsegment, o_orderpriority, count(*) AS n,
       sum(l_extendedprice * (1 - l_discount)) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
GROUP BY c_mktsegment, o_orderpriority
ORDER BY c_mktsegment, o_orderpriority
"""


def _spark(work: str, cpus: int):
    from pyspark.sql import SparkSession

    # SPARK_LOCAL_DIRS overrides spark.local.dir; keep scratch in the run
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    return (SparkSession.builder.master(f"local[{cpus}]")
            .appName("perfbench")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            # bench.py's session settings, with a small heap
            .config("spark.sql.shuffle.partitions", "4")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
            .config("spark.sql.codegen.hugeMethodLimit", "8000")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.driver.memory", "2g")
            .config("spark.local.dir", os.path.join(work, "spark"))
            .config("spark.sql.warehouse.dir", os.path.join(work, "wh"))
            .config("spark.driver.extraJavaOptions",
                    # a fixed heap: no resizing while passes are timed
                    f"-Djava.io.tmpdir={work} -XX:-UsePerfData -Xms2g")
            .getOrCreate())


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave it running
            proc.kill()
            proc.wait(timeout=30)


class Jobs:
    """Spark job accounting by job group, read through statusTracker."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()

    @contextlib.contextmanager
    def group(self, name: str):
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            if prev:
                self.sc.setJobGroup(prev, prev)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def count(self, name: str) -> dict:
        jobs = self.tracker.getJobIdsForGroup(name)
        stages = set()
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        ran = tasks = failed = 0
        for sid in stages:
            st = self.tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks + st.numFailedTasks:
                ran += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": ran, "tasks": tasks,
                "failed": failed}


def _same(got, want) -> bool:
    if len(got) != len(want):
        return False
    for a, b in zip(got, want):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True


class Lake:
    def __init__(self, spark, remote: Remote, tracer: Tracer) -> None:
        from sidecar_spark.functions import dedup

        self.spark = spark
        self.remote = remote
        self.tracer = tracer
        self.jobs = Jobs(spark.sparkContext)
        self.dedup = dedup

    def build(self, q: str, eng, tag: str):
        span = self.tracer.span
        if q == "dedup":
            with span("engine.table"):
                docs = eng.table("documents")
            with span("functions.minhash_candidate_pairs"):
                pairs = self.dedup.minhash_candidate_pairs(
                    docs, num_hashes=16, bands=4, shingle_k=3,
                    jaccard_threshold=0.1)
            with self.jobs.group(f"{tag}.cc"), \
                    span("functions.connected_components"):
                return self.dedup.connected_components(
                    pairs, docs.select("doc_id"))
        for t in USES[q]:
            with span("engine.register"):
                eng.register(t)
        if q == "q1_cached":
            with span("engine.sql_cached"):
                return eng.sql_cached(Q1)
        return self.spark.sql(Q1 if q == "q1" else JOIN)

    def query(self, q: str, eng, tag: str):
        """Build and run one query; (rows, Op)."""
        tag = f"{tag}.{q}"
        self.tracer.next_op()
        before = self.remote.meter.snapshot()
        t0 = time.perf_counter()
        with self.tracer.span(f"client.{q}"):
            with self.jobs.group(f"{tag}.build"):
                df = self.build(q, eng, tag)
            with self.jobs.group(f"{tag}.run"), \
                    self.tracer.span("spark.collect"):
                rows = df.collect()
        dt = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        rows = [tuple(r) for r in rows]
        if q == "dedup":
            rows.sort()
        return rows, Op(q, dt, counts(self.remote.meter.snapshot(), before),
                        self.tracer.enabled)

    def run_pass(self, eng, tag: str, expected, traced: bool):
        self.tracer.enabled = traced
        ops = []
        for q in QUERIES:
            rows, op = self.query(q, eng, tag)
            op.ok = _same(rows, expected[q])
            if not op.ok:
                print(f"perfbench: {tag}.{q} returned wrong rows",
                      file=sys.stderr)
            ops.append(op)
        self.tracer.enabled = False
        print(f"perfbench: {tag} {sum(o.seconds for o in ops):.3f}s "
              + " ".join(f"{o.kind}={o.seconds:.3f}" for o in ops)
              + f" gets={sum(o.remote[GET] for o in ops)}", file=sys.stderr)
        return ops

    def pass_jobs(self, tag: str) -> dict:
        out = {}
        for q in QUERIES:
            out[f"{q}.build"] = self.jobs.count(f"{tag}.{q}.build")
            out[f"{q}.run"] = self.jobs.count(f"{tag}.{q}.run")
        out["cc"] = self.jobs.count(f"{tag}.dedup.cc")
        return out


def _expected(spark, local: str, lake: Lake):
    """The answers over a plain, uncached read of the same files."""
    for t in TABLES:
        spark.read.parquet(os.path.join(local, f"{t}.parquet")) \
            .createOrReplaceTempView(t)
    plain = {"q1": spark.sql(Q1), "join": spark.sql(JOIN)}
    docs = spark.table("documents")
    plain["dedup"] = lake.dedup.connected_components(
        lake.dedup.minhash_candidate_pairs(
            docs, num_hashes=16, bands=4, shingle_k=3, jaccard_threshold=0.1),
        docs.select("doc_id"))
    out = {q: [tuple(r) for r in df.collect()] for q, df in plain.items()}
    out["dedup"].sort()
    out["q1_cached"] = out["q1"]
    spark.catalog.clearCache()
    for t in TABLES:
        spark.catalog.dropTempView(t)
    return out


def _scan_sources(spark, remote: Remote, work: str) -> dict:
    """Executor-mode noop full scans through ``Engine.table`` (the Python
    DataSource read path), a cold then a warm scan per table. Also
    records what the driver sees of them: its tier counters and its
    result cache, against the GETs the executors issued on the wire."""
    from sidecar_spark import Engine, SidecarConfig

    eng = Engine(spark, base_dir="s3://lake", conf=SidecarConfig.create(
        cache_dir=os.path.join(work, "cache-executor"),
        data_cache_type="file", resolve_mode="executor"))
    out = {}
    m0 = remote.meter.snapshot()
    try:
        for t in TABLES:
            for phase in ("cold", "warm"):
                t0 = time.perf_counter()
                eng.table(t).write.format("noop").mode("overwrite").save()
                out[f"sources.scan_s.{t}.{phase}"] = time.perf_counter() - t0
        out["sources.wire_gets"] = remote.meter.snapshot()[GET] - m0[GET]
        out["sources.driver_read_requests"] = \
            eng.cache.stats.snapshot()["total_read_requests"]
        eng.register("lineitem")
        for _ in range(2):
            eng.sql_cached(Q1).collect()
        rc = eng.result_cache_stats()
        out["sources.result_cache_hits"] = rc["hits"]
        out["sources.result_cache_misses"] = rc["misses"]
    finally:
        eng.close()
    return out


def lake_query_driver(seed: int, seconds: float, trace: bool,
                      work: str) -> Result:
    from sidecar_spark import Engine, SidecarConfig

    began = time.perf_counter()
    # threads and processes started from here on (the stub's server
    # thread, the JVM) inherit the pinning
    cpus = sorted(os.sched_getaffinity(0))[:CPUS]
    os.sched_setaffinity(0, cpus)

    def phase(name):
        print(f"perfbench: {name} done at "
              f"{time.perf_counter() - began:.1f}s", file=sys.stderr)

    local = os.path.join(work, "tables")
    sizes = gen.write_lake(seed, local)
    phase("tables")
    remote = Remote()
    res = Result()
    tracer = Tracer()
    spark = None
    try:
        for t in TABLES:
            with open(os.path.join(local, f"{t}.parquet"), "rb") as f:
                remote.put("lake", f"{t}.parquet", f.read())
        spark = _spark(work, len(cpus))
        spark.sparkContext.setLogLevel("ERROR")
        phase("spark start")
        lake = Lake(spark, remote, tracer)
        expected = _expected(spark, local, lake)
        phase("expected answers")

        def make(rep):
            eng = Engine(spark, base_dir="s3://lake",
                         conf=SidecarConfig.create(
                             cache_dir=os.path.join(work, f"cache-{rep}"),
                             data_cache_type="file"))
            for t in TABLES:
                if eng.cache.get_file_status(
                        f"s3://lake/{t}.parquet") is None:
                    raise FileNotFoundError(t)
            return eng

        builds, colds, cold_ops = [], [], []

        def set_up_and_cold_pass(rep, traced):
            """Build an engine on a fresh cache dir (executor-side
            singletons would turn a reused dir warm) and run one cold
            pass through it."""
            t0 = time.perf_counter()
            eng = make(rep)
            builds.append(time.perf_counter() - t0)
            s0 = eng.cache.stats.snapshot()
            t0 = time.perf_counter()
            cold = lake.run_pass(eng, f"cold{rep}", expected, traced)
            colds.append(time.perf_counter() - t0)
            if not any(op.remote[GET] for op in cold):
                raise ShapeError(f"cold pass {rep} issued no object GET")
            cold_ops.append(cold)
            return eng, cold, s0

        def warm_pass(eng, tag, traced):
            ops = lake.run_pass(eng, tag, expected, traced)
            if any(op.remote[GET] for op in ops):
                raise ShapeError(f"warm pass {tag} issued object GETs")
            return ops

        # The JVM is still compiling the cached path during its first
        # passes through it: on a 4-CPU host each of the first three cold
        # passes ran 10-20 % faster than the one before. So the first
        # engine's cold pass and one warm pass through it are a warm-up
        # (answers checked, times not reported), the warm passes are
        # timed next, and the timed cold passes come last, each on an
        # engine of its own. The per-layer window is the first engine's
        # cold and warm passes.
        m0 = remote.meter.snapshot()
        eng, cold, s0 = set_up_and_cold_pass(0, trace)
        first_warm_op = tracer.op_id
        warmup = warm_pass(eng, "warmup", False)
        phase("warm-up")

        warm, walls, tags = [], [], []
        t_start = time.perf_counter()
        while (len(walls) < MIN_WARM_PASSES
               or time.perf_counter() - t_start < seconds):
            tag = f"warm{len(walls)}"
            t0 = time.perf_counter()
            warm += warm_pass(eng, tag, trace and len(walls) % 2 == 0)
            walls.append(time.perf_counter() - t0)
            tags.append(tag)
        phase("warm passes")
        m = delta(remote.meter.snapshot(), m0)
        ops = cold + warmup + warm
        user_bytes = sum(sizes[t] for o in ops for t in USES[o.kind])
        stored = disk_bytes(eng.conf.cache_dir)
        if trace:
            layers, named = _warm_layers(lake, eng, tracer, tags, m, s0,
                                         ops, warm, user_bytes, walls,
                                         first_warm_op)
        eng.close()

        for rep in range(1, SETUP_REPS):
            set_up_and_cold_pass(rep, False)[0].close()
        phase("timed set-ups and cold passes")
        every = [o for c in cold_ops for o in c] + warmup + warm
        res.attempted = len(every)
        res.failed = sum(not o.ok for o in every)
        colds = colds[1:]

        def requests(pass_ops):
            return sum(sum(o.remote.values()) for o in pass_ops)

        warm_requests = statistics.median(
            requests(warm[i:i + len(QUERIES)])
            for i in range(0, len(warm), len(QUERIES)))

        def lat(q):
            return statistics.median(o.seconds for o in warm if o.kind == q)

        # queries per second at each query's median warm latency: one
        # slow pass of one query does not move it
        warm_s = sum(lat(q) for q in QUERIES)
        cold_requests = statistics.median(requests(c) for c in cold_ops)
        res.end_to_end = end_to_end(
            statistics.median(builds), colds, len(QUERIES) / warm_s,
            (cold_requests + warm_requests) / (2 * len(QUERIES)),
            stored, sum(sizes.values()))
        res.figures = {
            "query_cold_s": statistics.median(colds),
            "query_warm_s": statistics.median(walls),
            "result_hit_ms": lat("q1_cached") * 1e3,
            **{f"query_{q}_warm_s": lat(q) for q in QUERIES},
            "warm_passes": len(walls),
        }
        if trace:
            named.update(_scan_sources(spark, remote, work))
            res.per_layer = layers
            res.table = layer_table(
                "lake_query_driver", tracer.self_times(),
                {"warm_pass_pct": layers["trace.overhead_pct"]},
                {**res.figures, **named})
    finally:
        if spark is not None:
            _stop_spark(spark)
        remote.close()
    return res


def _warm_layers(lake: Lake, eng, tracer: Tracer, tags, m: dict, s0: dict,
                 ops, warm, user_bytes: int, walls, first_warm_op: int):
    """Per-layer metrics of the first engine's window (its cold pass,
    the warm-up pass and the timed warm passes), and the named figures
    of the traced-run table."""
    jobs = {tag: lake.pass_jobs(tag) for tag in tags}

    def med(fn):
        return statistics.median(fn(jobs[tag]) for tag in tags)

    layers = {**remote_layers(m, len(ops), user_bytes),
              **cache_layers(eng.cache, s0, 0, 0)}
    rc = eng.result_cache_stats()
    layers["results.hits"] = rc["hits"]
    layers["results.misses"] = rc["misses"]
    layers["functions.cc_jobs"] = med(lambda j: j["cc"]["jobs"])
    for q in QUERIES:
        layers[f"spark.build_jobs.{q}"] = med(
            lambda j: j[f"{q}.build"]["jobs"]
            + (j["cc"]["jobs"] if q == "dedup" else 0))
        layers[f"spark.run_jobs.{q}"] = med(
            lambda j: j[f"{q}.run"]["jobs"])
    # every job is in exactly one group: build, cc or run; the cc
    # group belongs to the dedup query
    for key in ("stages", "tasks"):
        layers[f"spark.{key}"] = med(
            lambda j: sum(v[key] for v in j.values()))
        for q in QUERIES:
            layers[f"spark.{key}.{q}"] = med(
                lambda j: sum(v[key] for g, v in j.items()
                              if g.split(".")[0] == q
                              or (q == "dedup" and g == "cc")))
    layers["spark.failed_tasks"] = sum(
        v["failed"] for j in jobs.values() for v in j.values())
    layers.update(shares(tracer.self_times(),
                         sum(o.seconds for o in ops if o.traced)))
    on = [w for i, w in enumerate(walls) if i % 2 == 0]
    off = [w for i, w in enumerate(walls) if i % 2 == 1]
    layers["trace.overhead_pct"] = \
        (statistics.median(on) / statistics.median(off) - 1) * 100

    def per_pass(*names):
        return _per_pass(tracer, first_warm_op, names)

    named = {
        "engine.build_s": per_pass("engine.register", "engine.table",
                                   "engine.sql_cached"),
        "functions.minhash_s": per_pass("functions.minhash_candidate_pairs"),
        "functions.cc_s": per_pass("functions.connected_components"),
        "fs.remote_read_s": m["get_s"],
        "mirror.resident_bytes": eng.cache.mirror.size_bytes(),
        **{f"remote_{k}_per_warm_pass": statistics.median(
            sum(o.remote[k] for o in warm[i:i + len(QUERIES)])
            for i in range(0, len(warm), len(QUERIES)))
           for k in (GET, META, PUT)},
    }
    return layers, named


def _per_pass(tracer: Tracer, first_op: int, names) -> float:
    """Median over traced warm passes of the summed duration of the
    named spans. The warm passes are the ops numbered after
    ``first_op``, four per pass."""
    passes = {}
    for name, t0, t1, _, op in tracer.spans:
        if name in names and t1 is not None and op > first_op:
            n = (op - first_op - 1) // len(QUERIES)
            passes[n] = passes.get(n, 0.0) + t1 - t0
    return statistics.median(passes.values()) if passes else 0.0
