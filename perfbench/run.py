"""Benchmark of the OCDS collection engine: files in, finished and
queryable collection out, then analyst reads over it.

Run from the root of a checkout:

    python3 perfbench/run.py --workload crawl_compile --seed 1 --seconds 20 --trace 0

It generates the workload's inputs from the seed, starts a local Spark
session and warms it with a small collection of the same shape, then
submits collections and runs the read mix over each until ``--seconds``
is spent (at least once), checks every output against the generator, and
prints one JSON object as the last line of standard output. ``--trace 1``
alternates untraced and traced submissions and reports per-layer metrics
instead (see NOTES.md). Everything it writes stays under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

sys.path.insert(0, HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", default="nproc",
                   help="local[N] cores; 'nproc' = the cores this process may use")
    p.add_argument("--driver-mem", default="3g", help="spark.driver.memory")
    return p.parse_args(argv)


def deploy_env(run_dir: str, driver_mem: str) -> dict:
    """Pin the deployment: the Python workers import the engine from this
    checkout, temporary files stay in the run directory, and the Spark
    driver heap is set explicitly (the engine's default suits a big host)."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(PYTHONPATH=ROOT, TMPDIR=tmp, SPARK_LOCAL_DIRS=local,
                      SPARK_GRAFT_DRIVER_MEM=driver_mem,
                      SPARK_LAUNCHER_OPTS=jvm_opts)
    import tempfile
    tempfile.tempdir = tmp
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"{jvm_opts} -Dderby.system.home={tmp}",
        "spark.executorEnv.PYTHONPATH": ROOT,
        # the status tracker must still know every job when spans are counted
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def import_engine():
    """The engine package of this checkout, or None when it is absent."""
    sys.path.insert(0, ROOT)
    try:
        import kingfisher_process_spark
    except ImportError:
        return None
    path = os.path.dirname(os.path.abspath(kingfisher_process_spark.__file__))
    return kingfisher_process_spark if os.path.dirname(path) == ROOT else None


class Run:
    """One benchmark run: a session, a workload, its cycles and counters."""

    def __init__(self, spark, workload, seed: int, run_dir: str, tracer):
        from kingfisher_process_spark import api

        self.spark, self.w, self.seed = spark, workload, seed
        self.dir, self.tracer, self.api = run_dir, tracer, api
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.n_stores = 0

    def _read(self, kind, call, check) -> tuple[float, list[str]]:
        """One timed request: (latency in ms, problems with its answer)."""
        r0 = time.perf_counter()
        try:
            if kind.startswith("query."):
                with self.tracer.span(kind):
                    answer = call()
            else:
                answer = call()
        except Exception:
            return (time.perf_counter() - r0) * 1e3, [traceback.format_exc()]
        return (time.perf_counter() - r0) * 1e3, check(answer)

    def cycle(self, coll, traced: bool = False, warm_up: bool = False) -> dict:
        """Submit one collection, run the read mix over it, check both.
        A warm-up cycle sends one read of each kind and leaves the stored
        rows unchecked."""
        from kingfisher_process_spark.store import Store

        from spans import tree_stats

        self.n_stores += 1
        store_dir = os.path.join(self.dir, f"store-{self.n_stores}")
        store = Store(self.spark, store_dir)
        t = self.tracer
        t.enabled, t.request = traced, self.n_stores
        out = {"traced": traced, "reads": [], "request": self.n_stores}
        problems: list[str] = []
        try:
            start = time.perf_counter()
            with t.span("submission"):
                ids = self.w.submit(self.spark, store, coll)
            out["submit_s"] = time.perf_counter() - start
            out["files"], out["bytes"] = tree_stats(store_dir)
            rnd = random.Random(f"reads:{self.seed}:{self.n_stores}")
            mix = self.w.reads(rnd, coll, ids, store, self.api, one_each=warm_up)
            with t.span("reads"):
                if warm_up:
                    # warm-up reads are not timed; running them side by side
                    # shortens set-up
                    with ThreadPoolExecutor(4) as pool:
                        done = list(pool.map(lambda r: self._read(*r), mix))
                else:
                    done = [self._read(*r) for r in mix]
            for (kind, _, _), (ms, bad) in zip(mix, done):
                self.attempted += 1
                out["reads"].append((kind, ms))
                if bad:
                    self.failed += 1
                    self.problems += bad
            out["wall_s"] = time.perf_counter() - start
            t.enabled = False
            if not warm_up:
                bad, out["counts"] = self.w.verify(store_dir, coll, ids)
                problems += bad
        except Exception:
            problems.append(traceback.format_exc())
        finally:
            t.enabled = False
            shutil.rmtree(store_dir, ignore_errors=True)
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += problems
        return out


def end_to_end(setup_s: float, coll, cycles: list[dict]) -> dict:
    done = [c for c in cycles if "wall_s" in c]
    return {
        "setup_s": (setup_s, "s"),
        "releases_per_s": (statistics.median(coll.n_releases / c["submit_s"]
                                             for c in done), "1/s"),
        "store_bytes_per_input_byte": (statistics.median(
            c["bytes"] / coll.input_bytes for c in done), "ratio"),
    }


def per_layer(tracer, cycles: list[dict], setup: dict, peak_rss: int) -> dict:
    """Per-layer metrics of the traced cycles (medians across them)."""
    from spans import self_times

    selft = self_times(tracer.spans)
    traced = [c for c in cycles if c["traced"] and "wall_s" in c]
    plain = [c for c in cycles if not c["traced"] and "wall_s" in c]
    by_id = {s.id: s for s in tracer.spans}

    def under(s, root_name):
        while s is not None:
            if s.name == root_name:
                return True
            s = by_id.get(s.parent)
        return False

    def per_cycle(c):
        spans = [s for s in tracer.spans if s.request == c["request"]]
        sub = [s for s in spans if under(s, "submission")]

        def layer(prefix):
            return [s for s in sub if s.name == prefix or s.name.startswith(prefix + ".")]

        def self_s(prefix):
            return sum(selft[s.id] for s in layer(prefix))

        def ms(name):
            d = [s.duration * 1e3 for s in spans if s.name == name]
            return statistics.median(d) if d else 0.0

        loads = layer("loader.store")
        items = sum(s.attrs.get("items", 0) for s in loads)
        fresh = sum(s.attrs.get("new_payloads", 0) for s in loads)
        lc = layer("lifecycle")
        return {
            "loader.store_s": (self_s("loader.store"), "s"),
            "loader.jobs": (sum(s.jobs for s in loads), "count"),
            "loader.items": (items, "count"),
            "loader.dedup_hit_ratio": ((items - fresh) / items if items else 0.0, "ratio"),
            "upgrade.store_s": (self_s("upgrade"), "s"),
            "compile.s": (self_s("compile"), "s"),
            "compile.jobs": (sum(s.jobs for s in layer("compile")), "count"),
            "compile.ocids": (sum(s.attrs.get("compiled", 0) for s in layer("compile")),
                              "count"),
            "compile.hot_ocids": (c["counts"]["hot_ocids"], "count"),
            "check.s": (self_s("check"), "s"),
            "check.items": (sum(s.attrs.get("items", 0) for s in layer("check")), "count"),
            "check.error_items": (c["counts"]["error_items"], "count"),
            "sources.s": (self_s("sources"), "s"),
            "pipeline.s": (self_s("pipeline"), "s"),
            "wave.register_s": (sum(s.duration for s in layer("pipeline.register_files")), "s"),
            "wave.load_pending_s": (sum(s.duration for s in layer("pipeline.load_pending")), "s"),
            "lifecycle.s": (self_s("lifecycle"), "s"),
            "lifecycle.calls": (sum(1 for s in lc if by_id[s.parent].name.split(".")[0]
                                    != "lifecycle"), "count"),
            "spark.jobs": (sum(s.jobs for s in sub), "count"),
            "spark.tasks": (sum(s.tasks for s in sub), "count"),
            "api.metadata_ms": (ms("api.metadata"), "ms"),
            "api.status_ms": (ms("api.collection_status"), "ms"),
            "api.tree_ms": (ms("api.tree"), "ms"),
            "api.notes_ms": (ms("api.notes"), "ms"),
            "query.top_buyers_ms": (ms("query.top_buyers"), "ms"),
            "query.tender_value_ms": (ms("query.tender_value"), "ms"),
            "query.release_by_ocid_ms": (ms("query.release_by_ocid"), "ms"),
            "query.check_errors_ms": (ms("query.check_errors"), "ms"),
            "store.parquet_files": (c["files"], "count"),
            "store.bytes_written": (c["bytes"], "bytes"),
        }

    rows = [per_cycle(c) for c in traced]
    out = {k: (statistics.median(r[k][0] for r in rows), unit)
           for k, (_, unit) in rows[0].items()}
    out["setup.session_s"] = (setup["session_s"], "s")
    out["setup.gen_s"] = (setup["gen_s"], "s")
    out["peak_rss_mb"] = (peak_rss / 2**20, "MB")
    out["trace.overhead_ratio"] = (
        statistics.median(c["wall_s"] for c in traced)
        / statistics.median(c["wall_s"] for c in plain), "ratio")
    return out


def bench(args, run_dir: str, conf: dict) -> dict:
    from kingfisher_process_spark.session import get_spark

    from spans import RssSampler, Tracer, instrument
    from workloads import WORKLOADS

    w = WORKLOADS[args.workload]
    cpus = (len(os.sched_getaffinity(0)) if args.cpus == "nproc" else int(args.cpus))

    def generate():
        g0 = time.perf_counter()
        coll = w.generate(args.seed, os.path.join(run_dir, "inputs"))
        warm = w.generate(args.seed, os.path.join(run_dir, "warm"), tiny=True)
        return coll, warm, time.perf_counter() - g0

    t0 = time.perf_counter()
    # the inputs are written while the JVM starts
    with ThreadPoolExecutor(1) as pool:
        inputs = pool.submit(generate)
        spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
        setup = {"session_s": time.perf_counter() - t0}
        coll, warm, setup["gen_s"] = inputs.result()
    try:
        tracer = Tracer(spark.sparkContext)
        instrument(tracer)
        run = Run(spark, w, args.seed, run_dir, tracer)
        # one small collection of the workload's shape goes through every
        # stage and read first: the first collection on a fresh session
        # runs several times slower (JVM and worker start-up, code
        # generation), and that cost belongs to set-up
        run.cycle(warm, warm_up=True)
        setup_s = time.perf_counter() - t0
        print(f"# set-up {setup_s:.2f} s", file=sys.stderr)

        cycles = []
        # memory is sampled in traced runs only, off the measured path
        with RssSampler() if args.trace else contextlib.nullcontext() as rss:
            start = time.perf_counter()
            while True:
                # traced runs alternate traced and untraced cycles, traced
                # first: the traced cycle then sits where an untraced run
                # measures, and the overhead ratio errs high, not low
                traced = bool(args.trace) and len(cycles) % 2 == 0
                cycles.append(run.cycle(coll, traced=traced))
                c = cycles[-1]
                print(f"# cycle: submit {c.get('submit_s', 0):.2f} s, reads "
                      f"{sum(ms for _, ms in c['reads']) / 1e3:.2f} s: "
                      + " ".join(f"{k.split('.')[1]}={ms:.0f}" for k, ms in c["reads"]),
                      file=sys.stderr)
                elapsed = time.perf_counter() - start
                last = cycles[-1].get("wall_s", elapsed)
                enough = len(cycles) >= (2 if args.trace else 1)
                if enough and elapsed + last > args.seconds:
                    break
        tracer.finish()
        metrics = (per_layer(tracer, cycles, setup, rss.peak_bytes) if args.trace
                   else end_to_end(setup_s, coll, cycles))
        if args.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(os.path.join(WORK, "traces",
                                     f"{args.workload}-seed{args.seed}.json"))
    finally:
        stop_session(spark)

    for p in run.problems[:20]:
        print(f"# problem: {p.strip()}", file=sys.stderr)
    n_reads = sum(len(c["reads"]) for c in cycles)
    err = run.failed / run.attempted
    kinds: dict[str, list[float]] = {}
    for c in cycles:
        for kind, ms in c["reads"]:
            kinds.setdefault(kind, []).append(ms)
    print("# read medians: " + ", ".join(
        f"{k} {statistics.median(v):.0f} ms" for k, v in sorted(kinds.items())))
    print(f"# {args.workload} seed={args.seed}: {len(cycles)} cycles, "
          f"{n_reads} reads, error_rate {err:.4g} ({run.failed}/{run.attempted}), "
          + ", ".join(f"{k} {v:.4g} {u}" for k, (v, u) in metrics.items()))
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers have
    exited."""
    from spans import descendants

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in children:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    args = parse_args(argv)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if import_engine() is None:
        print(f"the engine package kingfisher_process_spark is not in {ROOT}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        conf = deploy_env(run_dir, args.driver_mem)
        result = bench(args, run_dir, conf)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
