"""File-system workloads: one closed-loop client thread that drives
``CacheManager`` and its streams against the metered remote. No Spark.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

import gen
from common import (Op, Result, ShapeError, cache_layers, disk_bytes,
                    fs_end_to_end, overhead_pct, percentile_ms, remote_layers,
                    shares, timed_setup)
from remote import Remote, counts, delta
from trace import Tracer, layer_table

from sidecar_spark import SidecarConfig
from sidecar_spark.cache.manager import CacheManager

KiB, MiB = 1024, 1024 * 1024

# fs_read_zipf: a 256 MiB working set over a 64 MiB page store, so
# admission, eviction and prefetch decide latency
ZIPF_OBJECTS, ZIPF_OBJECT = 32, 8 * MiB
ZIPF_PAGE = MiB  # SidecarConfig's default data_page_size
ZIPF_CACHE = 64 * MiB
ZIPF_ALPHA = 0.9
# the hot-page layout is fixed, so how hot pages share a prefetch window
# is the same in every run; the seed draws the accesses and the bytes
ZIPF_LAYOUT = 0x5EED
ZIPF_READ, ZIPF_SEQ, ZIPF_SEQ_SHARE = 64 * KiB, 4 * MiB, 0.1

# fs_write_mix: SYNC write cache smaller than what one run writes, so
# write-cache eviction runs; reads also admit pages, into a page store of
# the same size
MIX_WRITE_CACHE = MIX_PAGE_CACHE = 16 * MiB
MIX_SIZES = (64 * KiB, 512 * KiB, 2 * MiB)
MIX_KINDS = ("create", "read", "stat", "rename", "delete")
MIX_SHARES = (0.40, 0.40, 0.10, 0.05, 0.05)
MIX_BASE_FILES, MIX_BASE_SIZE = 16, 512 * KiB
MIX_RECENCY = 0.15  # geometric skew of read-after-write towards new files
WRITE_CHUNK = 256 * KiB


def _manager(conf: SidecarConfig, uris) -> CacheManager:
    mgr = CacheManager(conf)
    for uri in uris:
        if mgr.get_file_status(uri) is None:
            raise FileNotFoundError(uri)
    return mgr


def _setup(work: str, uris, **conf_kw):
    def make(rep):
        conf = SidecarConfig.create(
            cache_dir=os.path.join(work, f"cache-{rep}"),
            data_cache_type="file", **conf_kw)
        return _manager(conf, uris)
    return timed_setup(make, lambda m: m.close(save=False))


def _finish(name, res, ops, tracer, trace, layers, extra_named):
    """Fill the per-layer part of a traced run."""
    if not trace:
        return
    times = tracer.self_times()
    wall = sum(o.seconds for o in ops if o.traced)
    res.per_layer.update(layers)
    res.per_layer.update(shares(times, wall))
    over = {"miss_ops_pct": overhead_pct(ops, True),
            "hit_ops_pct": overhead_pct(ops, False)}
    # ops that move data set the end-to-end figures; hit ops of a mix
    # differ in kind and size, so their comparison is only indicative
    res.per_layer["trace.overhead_pct"] = over["miss_ops_pct"]
    res.table = layer_table(name, times, over, {**res.figures, **extra_named})


def _timed_op(meter, tracer, traced, kind, fn) -> Op:
    tracer.enabled = traced
    tracer.next_op()
    before = meter.snapshot()
    t0 = time.perf_counter()
    ok = True
    try:
        with tracer.span(f"client.{kind}"):
            ok = fn()
    except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
        print(f"perfbench: {kind} failed: {e!r}", file=sys.stderr)
        ok = False
    dt = time.perf_counter() - t0
    tracer.enabled = False
    return Op(kind, dt, counts(meter.snapshot(), before), traced, bool(ok))


def fs_read_zipf(seed: int, seconds: float, trace: bool, work: str) -> Result:
    objs = [gen.payload(seed, i, ZIPF_OBJECT) for i in range(ZIPF_OBJECTS)]
    uris = [f"s3://zipf/obj-{i:03d}" for i in range(ZIPF_OBJECTS)]
    pages_per_obj = ZIPF_OBJECT // ZIPF_PAGE
    n_pages = ZIPF_OBJECTS * pages_per_obj
    hot = np.random.default_rng(ZIPF_LAYOUT).permutation(n_pages)

    def planner(stream):
        """Reads of one access stream: (object, offset, length)."""
        rng = np.random.default_rng([seed, stream, 1])
        ranks = gen.chooser(np.random.default_rng([seed, stream, 2]),
                            gen.zipf_shares(n_pages, ZIPF_ALPHA), n_pages)
        seqs = gen.chooser(np.random.default_rng([seed, stream, 3]),
                           (1 - ZIPF_SEQ_SHARE, ZIPF_SEQ_SHARE), 10)

        def plan():
            obj, page = divmod(int(hot[next(ranks)]), pages_per_obj)
            if next(seqs):
                off = min(page * ZIPF_PAGE, ZIPF_OBJECT - ZIPF_SEQ)
                return obj, off, ZIPF_SEQ
            sub = int(rng.integers(0, ZIPF_PAGE // ZIPF_READ))
            return obj, page * ZIPF_PAGE + sub * ZIPF_READ, ZIPF_READ
        return plan

    remote = Remote()
    res = Result()
    tracer = Tracer()
    try:
        for uri, data in zip(uris, objs):
            remote.put("zipf", uri.rsplit("/", 1)[1], data)
        mgr, setup_s = _setup(work, uris, data_cache_size=ZIPF_CACHE)
        touched = set()

        def read(obj, off, ln):
            with tracer.span("manager.open"):
                stream = mgr.open(uris[obj])
            try:
                with tracer.span("streams.read_fully"):
                    data = stream.read_fully(off, ln)
            finally:
                with tracer.span("streams.input_close"):
                    stream.close()
            return data == objs[obj][off:off + ln]

        # untimed warm-up: fill the page store to its eviction point. It
        # draws from its own stream, so the measured window starts at the
        # head of its strata whatever the warm-up took.
        plan = planner(0)
        for _ in range(400):
            if mgr.pages.size_bytes() >= 0.9 * ZIPF_CACHE:
                break
            res.attempted += 1
            res.failed += not read(*plan())

        plan = planner(1)

        s0, m0 = mgr.stats.snapshot(), remote.meter.snapshot()
        ops, user_read, miss_read = [], 0, 0
        t_start = time.perf_counter()
        deadline = t_start + seconds
        while time.perf_counter() < deadline:
            obj, off, ln = plan()
            op = _timed_op(remote.meter, tracer, trace and len(ops) % 2 == 0,
                           "read", lambda: read(obj, off, ln))
            ops.append(op)
            user_read += ln
            miss_read += ln if op.moved_data else 0
            touched.update((obj, p) for p in range(
                off // ZIPF_PAGE, -(-(off + ln) // ZIPF_PAGE)))
        window = time.perf_counter() - t_start
        m = delta(remote.meter.snapshot(), m0)
        res.attempted += len(ops)
        res.failed += sum(not o.ok for o in ops)

        # shape guard: the run must touch more pages than the store holds
        if len(touched) * ZIPF_PAGE <= ZIPF_CACHE:
            raise ShapeError(f"fs_read_zipf touched {len(touched)} pages, "
                             f"not more than the {ZIPF_CACHE // MiB} MiB "
                             "page store holds")
        res.end_to_end = fs_end_to_end(ops, window, setup_s,
                                       disk_bytes(mgr.conf.cache_dir),
                                       ZIPF_OBJECTS * ZIPF_OBJECT)
        misses = sum(o.moved_data for o in ops)
        layers = {**remote_layers(m, len(ops), user_read),
                  **cache_layers(mgr, s0, miss_read, misses)}
        lat = [o.seconds for o in ops]
        res.figures = {
            "read_p50_ms": percentile_ms(lat, 50),
            "read_p99_ms": percentile_ms(lat, 99),
            "read_mb_s": user_read / MiB / window,
            "read_hit_p50_ms": percentile_ms(
                [o.seconds for o in ops if not o.moved_data], 50),
            "reads": len(ops),
        }
        named = {
            "fs.remote_read_s": m["get_s"],
            "streams.read_fully_ms": tracer.median_ms("streams.read_fully"),
            "manager.open_ms": tracer.median_ms("manager.open"),
            "pages.distinct_touched": len(touched),
        }
        _finish("fs_read_zipf", res, ops, tracer, trace, layers, named)
        mgr.close(save=False)
    finally:
        remote.close()
    return res


def fs_write_mix(seed: int, seconds: float, trace: bool, work: str) -> Result:
    kinds = gen.chooser(np.random.default_rng([seed, 4]), MIX_SHARES, 20)
    sizes = gen.chooser(np.random.default_rng([seed, 5]),
                        (1,) * len(MIX_SIZES), len(MIX_SIZES))
    read_sizes = gen.chooser(np.random.default_rng([seed, 8]),
                             (1,) * len(MIX_SIZES), len(MIX_SIZES))
    ages = gen.strata(np.random.default_rng([seed, 6]), 20)
    picks = gen.strata(np.random.default_rng([seed, 7]), 20)
    remote = Remote()
    res = Result()
    tracer = Tracer()
    # live files, oldest first: [uri, payload index, size]
    live = []
    for i in range(MIX_BASE_FILES):
        key = f"base-{i:03d}"
        remote.put("wmix", key, gen.payload(seed, i, MIX_BASE_SIZE))
        live.append([f"s3://wmix/{key}", i, MIX_BASE_SIZE])
    try:
        mgr, setup_s = _setup(work, [u for u, _, _ in live],
                              write_cache_size=MIX_WRITE_CACHE,
                              data_cache_size=MIX_PAGE_CACHE)
        counter = [MIX_BASE_FILES]

        def fresh_uri():
            counter[0] += 1
            return f"s3://wmix/f-{counter[0]:06d}"

        def recent():
            # a file of the next size in an equal-share deck (read cost
            # grows with size, so the deck keeps every run's read mix the
            # same), at a geometric age among that size, newest first
            size = MIX_SIZES[next(read_sizes)]
            pool = [e for e in live if e[2] == size] or live
            k = int(np.log1p(-next(ages)) / np.log1p(-MIX_RECENCY))
            return pool[-1 - min(k, len(pool) - 1)]

        def anyone():
            return int(next(picks) * len(live))

        def create(uri, data):
            with tracer.span("manager.create"):
                out = mgr.create(uri)
            with tracer.span("streams.write"):
                for i in range(0, len(data), WRITE_CHUNK):
                    out.write(data[i:i + WRITE_CHUNK])
            with tracer.span("streams.close"):
                out.close()  # SYNC: returns once the upload is done
            return True

        def read(uri, want):
            with tracer.span("manager.open"):
                stream = mgr.open(uri)
            try:
                with tracer.span("streams.read_fully"):
                    data = stream.read_fully(0, len(want))
            finally:
                with tracer.span("streams.input_close"):
                    stream.close()
            return data == want

        def stat(uri, size):
            with tracer.span("manager.get_file_status"):
                st = mgr.get_file_status(uri)
            return st is not None and st.length == size

        def rename(src, dst):
            with tracer.span("manager.rename"):
                return mgr.rename(src, dst)

        def delete(uri):
            with tracer.span("manager.delete"):
                return mgr.delete(uri)

        s0, m0 = mgr.stats.snapshot(), remote.meter.snapshot()
        ops, written, user_read, miss_read = [], 0, 0, 0
        t_start = time.perf_counter()
        deadline = t_start + seconds
        while time.perf_counter() < deadline:
            kind = MIX_KINDS[next(kinds)]
            if kind != "create" and not live:
                kind = "create"
            traced = trace and len(ops) % 2 == 0
            if kind == "create":
                idx = counter[0] + 1
                size = MIX_SIZES[next(sizes)]
                data, uri = gen.payload(seed, idx, size), fresh_uri()
                op = _timed_op(remote.meter, tracer, traced, kind,
                               lambda: create(uri, data))
                if op.ok:
                    live.append([uri, idx, size])
                    written += size
            elif kind == "read":
                entry = recent()
                want = gen.payload(seed, entry[1], entry[2])
                op = _timed_op(remote.meter, tracer, traced, kind,
                               lambda: read(entry[0], want))
                user_read += entry[2]
                miss_read += entry[2] if op.moved_data else 0
            elif kind == "stat":
                entry = live[anyone()]
                op = _timed_op(remote.meter, tracer, traced, kind,
                               lambda: stat(entry[0], entry[2]))
            elif kind == "rename":
                entry, dst = live[anyone()], fresh_uri()
                op = _timed_op(remote.meter, tracer, traced, kind,
                               lambda: rename(entry[0], dst))
                if op.ok:
                    entry[0] = dst
            else:
                entry = live.pop(anyone())
                op = _timed_op(remote.meter, tracer, traced, kind,
                               lambda: delete(entry[0]))
            ops.append(op)
        window = time.perf_counter() - t_start
        m = delta(remote.meter.snapshot(), m0)
        layers = {**remote_layers(m, len(ops), max(user_read, 1)),
                  **cache_layers(mgr, s0, miss_read,
                                 sum(o.moved_data for o in ops
                                     if o.kind == "read"))}
        stored = disk_bytes(mgr.conf.cache_dir)
        mgr.drain()
        mgr.close()

        # durability: a fresh manager on the same dirs reads back every
        # acknowledged, undeleted file byte-exactly
        again = CacheManager(mgr.conf)
        lost = 0
        try:
            for uri, idx, size in live:
                try:
                    stream = again.open(uri)
                    try:
                        good = (stream.read_fully(0, size)
                                == gen.payload(seed, idx, size))
                    finally:
                        stream.close()
                except (OSError, EOFError) as e:
                    print(f"perfbench: read-back of {uri} failed: {e!r}",
                          file=sys.stderr)
                    good = False
                lost += not good
        finally:
            again.close(save=False)
        res.attempted = len(ops) + len(live)
        res.failed = sum(not o.ok for o in ops) + lost

        if written <= MIX_WRITE_CACHE:
            raise ShapeError(f"fs_write_mix wrote {written} bytes, not more "
                             f"than the {MIX_WRITE_CACHE // MiB} MiB write "
                             "cache")
        res.end_to_end = fs_end_to_end(ops, window, setup_s, stored, written)

        def lat(kind, q=50):
            return percentile_ms([o.seconds for o in ops if o.kind == kind], q)

        res.figures = {
            "create_p50_ms": lat("create"), "create_p99_ms": lat("create", 99),
            "read_after_write_p50_ms": lat("read"),
            "mix_ops_s": len(ops) / window,
            "creates": sum(o.kind == "create" for o in ops),
            "written_bytes": written,
        }
        named = {
            "fs.remote_read_s": m["get_s"],
            "streams.write_ms": tracer.median_ms("streams.write"),
            "streams.close_ms": tracer.median_ms("streams.close"),
            "streams.read_fully_ms": tracer.median_ms("streams.read_fully"),
            "manager.open_ms": tracer.median_ms("manager.open"),
            "manager.stat_ms": tracer.median_ms("manager.get_file_status"),
            "manager.rename_ms": tracer.median_ms("manager.rename"),
            "manager.delete_ms": tracer.median_ms("manager.delete"),
        }
        _finish("fs_write_mix", res, ops, tracer, trace, layers, named)
    finally:
        remote.close()
    return res
