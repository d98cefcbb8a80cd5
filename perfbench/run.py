"""Repository benchmark: seeded workloads through the engine's public
functions, one closed-loop client on ``local[<cores>]``.

Run from the repository root::

    python3 perfbench/run.py --workload tiles_dense --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``): ``tiles_dense`` and
``leaf_operators``. Each run starts one Spark session and makes one
untimed warm-up call on a fixed seed at a quarter of the timed size,
whose outputs must also match the digest pinned in ``digests.json``.
It then stages fresh inputs from ``--seed`` for each timed call and
makes at least one, and further ones while the next should end within
``--seconds``. Every call's outputs are checked by ``Workload.check``.
A failed call, digest or check counts in ``failed``; the run log on
stderr also prints it as ``error_rate``.

``--trace 0`` reports the end-to-end metrics:

- ``setup_s``: session start, warm-up inputs and the warm-up call;
- ``items_per_s``: median per-call throughput, where an item is an image
  (``tiles_dense``) or an input row: a star, document or vector
  (``leaf_operators``).

``--trace 1`` enables Spark's uncompressed event log, alternates plain
and traced calls (plain first and last, at least three), and reports
the per-layer metrics of ``spans.py`` (per traced call, median over
calls), among them ``peak_rss_mb``: the peak resident memory of the
driver JVM and its Python workers, sampled from ``/proc`` by a thread of
this process. Spans are also written to ``.perfbench_out/spans_<workload>_seed<seed>.json``.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. All scratch files live under
``.perfbench_work/`` in the current directory and are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

WARM_SEED = 0xC0C0  # warm-up inputs, whose outputs are pinned
WARM_SCALE = 0.25  # warm-up input size relative to a timed call's


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class RssSampler:
    """Peak summed RSS of every descendant process of ``root_pid``."""

    def __init__(self, root_pid: int, period: float = 0.1):
        self.root_pid = root_pid
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def descendants(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [self.root_pid]
        while todo:
            for c in children.get(todo.pop(), []):
                out.append(c)
                todo.append(c)
        return out

    def sample(self) -> int:
        total = 0
        for pid in self.descendants():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop.wait(self.period)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=10)


def spark_env(work: str, trace: bool) -> None:
    """Point every Spark and Python scratch path into ``work`` and, for a
    traced run, turn on the uncompressed event log. The options are
    launch arguments, so ``get_spark``'s own settings still apply."""
    dirs = {k: os.path.join(work, k) for k in ("local", "tmp", "warehouse", "events")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    conf = {
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['tmp']}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": dirs["events"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def stop_spark(spark, sampler: RssSampler) -> None:
    """Stop the session, then the gateway JVM, and wait for every process
    this run started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 20
    while sampler.descendants() and time.time() < deadline:
        time.sleep(0.1)
    for pid in sampler.descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def run(args, spark, wl, tracer) -> dict:
    import gen

    digests_path = os.path.join(HERE, "digests.json")
    with open(digests_path) as fh:
        pinned = json.load(fh).get(wl.name)
    attempted = failed = 0
    jsc = spark.sparkContext._jsc

    def attempt(seed: int, traced: bool, scale: float = 1.0, check_pin: bool = False):
        nonlocal attempted, failed
        attempted += 1
        inp: dict = {}
        try:
            t0 = time.perf_counter()
            inp = wl.prepare(seed, scale)
            t1 = time.perf_counter()
            res = wl.call(inp, traced)
            t2 = time.perf_counter()
            errs = wl.check(inp, res)
            if check_pin and res.digest != pinned:
                errs.append(f"digest {res.digest} != pinned {pinned}")
            log(
                f"{wl.name} seed {seed}: prepare {t1 - t0:.2f} s, call {res.seconds:.2f} s "
                f"(+{t2 - t1 - res.seconds:.2f} s digest), check {time.perf_counter() - t2:.2f} s"
            )
        except Exception:
            traceback.print_exc(file=sys.stderr)
            res, errs = None, ["call raised"]
        res_rdds = jsc.getPersistentRDDs().size()
        spark.catalog.clearCache()
        shutil.rmtree(inp.get("dir", ""), ignore_errors=True)
        if errs:
            failed += 1
            log(f"{wl.name} seed {seed}: FAILED {errs}")
        return res, res_rdds

    t0 = time.perf_counter()
    res, _ = attempt(gen.derive_seed(WARM_SEED), False, WARM_SCALE, check_pin=True)
    setup_s = time.perf_counter() - t0
    log(f"{wl.name} warm-up digest {res.digest if res else None} (pinned {pinned})")

    calls: list[tuple[bool, object, int]] = []
    m0 = time.perf_counter()
    i = 0

    def more() -> bool:
        # a traced run alternates plain and traced calls, ending plain
        if i < (3 if args.trace else 1) or (args.trace and i % 2 == 0):
            return True
        # Start another call only if it should end within --seconds. Call
        # times after a single warm-up keep falling, at a rate that differs
        # from session to session, so a second call of the same length
        # widens the run-to-run spread instead of narrowing it.
        elapsed = time.perf_counter() - m0
        return elapsed + elapsed / i <= args.seconds

    while more():
        traced = bool(args.trace) and i % 2 == 1
        if tracer is not None:
            tracer.run_id = i
        res, rdds = attempt(gen.derive_seed(args.seed, i), traced)
        if res is not None:
            calls.append((traced, res, rdds))
        i += 1
    return {"setup_s": setup_s, "calls": calls, "attempted": attempted, "failed": failed}


def end_to_end(wl, out: dict, session_s: float) -> dict:
    calls = [res for _, res, _ in out["calls"]]
    m = {
        "setup_s": (session_s + out["setup_s"], "s"),
        "items_per_s": (statistics.median(r.items / r.seconds for r in calls), "1/s"),
    }
    log(
        f"{wl.name}: {wl.rate_name}={m['items_per_s'][0]:.4f} 1/s "
        f"(call median {statistics.median(r.seconds for r in calls):.4f} s, "
        f"{len(calls)} calls); setup_s={m['setup_s'][0]:.3f} s; "
        f"error_rate={out['failed'] / out['attempted']:.4f} "
        f"({out['failed']}/{out['attempted']})"
    )
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def per_layer(out: dict, tracer, events_dir: str, peak_rss: int) -> dict:
    import spans

    jobs = spans.job_stats(spans.read_event_log(events_dir))
    spans.attach_jobs(tracer.spans, jobs)
    traced = [(res, rdds) for t, res, rdds in out["calls"] if t]
    # the first timed call still carries JIT warm-up, so it is left out;
    # the later plain calls run warmer than the traced ones, which makes
    # the ratio an upper estimate of the tracing overhead
    plain = [res for t, res, _ in out["calls"][1:] if not t]
    runs = sorted({s.run_id for s in tracer.spans})
    values = spans.span_metrics(tracer.spans, runs)
    for name, _ in spans.COUNTERS:
        vals = [res.counters.get(name, 0) for res, _ in traced]
        values[name] = statistics.median(vals) if vals else 0
    values["spark.persisted_rdds_after_run"] = max(r for _, r in traced)
    values["peak_rss_mb"] = peak_rss / 2**20
    values["trace.overhead_ratio"] = statistics.median(
        res.seconds for res, _ in traced
    ) / statistics.median(res.seconds for res in plain)
    roots = [s.id for s in tracer.spans if s.name == "call" and s.parent is None]
    values["trace.top_level_coverage"] = statistics.median(
        spans.coverage(tracer.spans, r) for r in roots
    )
    units = dict(spans.per_layer_names())
    return {k: {"value": float(values.get(k, 0)), "unit": u} for k, u in units.items()}


def remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    with contextlib.suppress(OSError):
        os.rmdir(os.path.dirname(work))  # only once no other run uses it


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "geococo_spark", "pipeline.py")):
        log(f"no geococo_spark package under {ROOT}: run from the repository root")
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    remove_work(work)
    spark_env(work, bool(args.trace))
    cores = len(os.sched_getaffinity(0))
    sampler = RssSampler(os.getpid())
    if args.trace:  # sampling costs driver CPU, so untraced runs skip it
        sampler.start()
    spark = None
    try:
        from geococo_spark.session import get_spark
        from spans import Tracer

        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        log(f"session started in {session_s:.2f} s")
        tracer = Tracer() if args.trace else None
        wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"), tracer)
        out = run(args, spark, wl, tracer)
    finally:
        if spark is not None:
            t0 = time.perf_counter()
            stop_spark(spark, sampler)
            log(f"session stopped in {time.perf_counter() - t0:.2f} s")
        sampler.stop()
    if not out["calls"]:
        log("no timed call succeeded")
        remove_work(work)
        return 1
    if args.trace:
        metrics = per_layer(out, tracer, os.path.join(work, "events"), sampler.peak)
        tracer.dump(
            os.path.join(ROOT, ".perfbench_out", f"spans_{args.workload}_seed{args.seed}.json")
        )
    else:
        metrics = end_to_end(wl, out, session_s)
    remove_work(work)
    print(
        json.dumps(
            {
                "correct": out["failed"] == 0,
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
