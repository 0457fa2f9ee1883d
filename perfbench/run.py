"""Run one benchmark workload with one seed in this fresh process.

Usage, from the repository root:

    python3 perfbench/run.py --workload xml_olap --seed 1 --seconds 12 --trace 0

The run is a closed loop with one client on ``local[nproc]``: it builds the
session and loads the registry (set-up), makes the workload's fixture from
the seed, then runs passes over the workload's keys, one invocation at a
time, each from construction to a fetched pandas frame. The seed also
permutes the key order of every pass. The first pass is the cold pass;
then come round(``--seconds`` / the workload's nominal pass time) warm
passes. Every pass and invocation records its wall time and the CPU time
of the whole process tree (this interpreter, the JVM, the Python workers).
Each key's output of the first pass is checked against its oracle after
timing.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables the
uncompressed Spark event log, times every layer boundary from this file
and prints the per-layer metrics. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries the unbounded figures (wall times, tail, peak RSS, failures) and
details go to ``.perfbench/out/``. All scratch files live under
``.perfbench/`` in the checkout (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
from layers import SPANS  # noqa: E402
from workloads import ROUTE_PAIR, ROUTED_KEYS, WORKLOADS  # noqa: E402

SETUP_CHILDREN = 2  # extra cold set-ups per untraced run, in child processes
INVOCATION_TIMEOUT_S = 60
RSS_SAMPLE_S = 0.25
TAIL_BEYOND = 10  # query_tail_s: highest percentile with >= 10 samples beyond


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


# -- process tree: memory and CPU -------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> tuple[dict[int, list[int]], dict[int, str], dict[int, list[str]]]:
    """(children, command name, stat fields after the name) of every process."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    fields: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        pid = int(name)
        comm[pid] = stat[stat.index("(") + 1:stat.rindex(")")]
        fields[pid] = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[pid][1]), []).append(pid)
    return children, comm, fields


def _tree_rss(root_pid: int) -> dict[str, int]:
    """RSS bytes of a process and its descendants, summed per command name."""
    children, comm, _ = _proc_table()
    out: dict[str, int] = {}
    todo = [root_pid]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:
            continue
        out[comm.get(pid, "?")] = out.get(comm.get(pid, "?"), 0) + rss
        kids = children.get(pid, ())
        if comm.get(pid) == "java":
            # A JVM child that has not exec'd yet still maps the JVM's
            # memory; counting it would add the JVM's RSS a second time.
            kids = [k for k in kids if _exe(k) != _exe(pid)]
        todo.extend(kids)
    return out


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _descendants_cpu_s() -> tuple[float, float]:
    """CPU seconds used so far by this process's descendants, as (the JVM's
    own threads, everything the JVM started: the Python daemon and
    workers). Each process counts with the children it has reaped, so a
    worker that exits stays counted through its parent. Children this
    process has reaped itself (the set-up interpreters) do not count.
    """
    children, _, fields = _proc_table()
    jvm = started = 0
    for child in children.get(os.getpid(), ()):
        jvm += int(fields[child][11]) + int(fields[child][12])  # utime, stime
        started += int(fields[child][13]) + int(fields[child][14])  # reaped
        todo = list(children.get(child, ()))
        while todo:
            pid = todo.pop()
            started += sum(int(x) for x in fields[pid][11:15])
            todo.extend(children.get(pid, ()))
    return jvm / _TICK, started / _TICK


# Thread names (as /proc truncates them) of the JVM's JIT compiler threads.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


class PeakRss:
    """Samples the RSS of this process and its descendants in a thread."""

    def __init__(self) -> None:
        self.peak = 0
        self.parts: dict[str, int] = {}  # per command name, at the peak
        self.cpu_s = 0.0  # CPU the sampling thread has used
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            parts = _tree_rss(pid)
            if sum(parts.values()) > self.peak:
                self.peak, self.parts = sum(parts.values()), parts
            self.cpu_s = time.thread_time()
            self._stop.wait(RSS_SAMPLE_S)

    def close(self) -> int:
        self._stop.set()
        self._thread.join()
        return self.peak


class CpuClock:
    """CPU seconds of the whole process tree: this interpreter, the JVM and
    the Python workers, less what the RSS sampler itself uses. Unlike wall
    time it does not count the time the host's hypervisor gives this
    machine's CPUs to other tenants (steal), which comes and goes over
    minutes on a shared host."""

    def __init__(self, rss: PeakRss) -> None:
        self.rss = rss
        self._jit: dict[str, float] = {}  # JIT thread id -> CPU s last seen

    def _jit_s(self) -> float:
        """CPU seconds of the JVM's JIT compiler threads. The JVM starts
        and stops them as its compile queue grows and drains; one that has
        ended keeps the CPU last read for it."""
        children, comm, _ = _proc_table()
        for pid in children.get(os.getpid(), ()):
            if comm[pid] != "java":
                continue
            for tid in os.listdir(f"/proc/{pid}/task"):
                try:
                    with open(f"/proc/{pid}/task/{tid}/stat") as f:
                        stat = f.read()
                except OSError:
                    continue
                if stat[stat.index("(") + 1:stat.rindex(")")] in _JIT_THREADS:
                    fields = stat[stat.rindex(")") + 2:].split()
                    self._jit[tid] = (int(fields[11]) + int(fields[12])) / _TICK
        return sum(self._jit.values())

    def parts(self) -> dict[str, float]:
        jvm, pyworker = _descendants_cpu_s()
        jit = self._jit_s()
        return {"driver_py": time.process_time() - self.rss.cpu_s,
                "jvm": jvm - jit, "jit": jit, "pyworker": pyworker}

    def __call__(self) -> float:
        """The total alone: cheaper than parts(), which reads every JVM
        thread."""
        jvm, pyworker = _descendants_cpu_s()
        return time.process_time() - self.rss.cpu_s + jvm + pyworker


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


# -- fixture ----------------------------------------------------------------

def fixture_dir(root: str, spec: dict, seed: int) -> str:
    """Build the seeded fixture once per (spec, seed) and verify its rows."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(spec.items()))
    out = os.path.join(root, ".perfbench", "fixtures", f"{tag}-seed{seed}")
    want = fixtures.row_counts(**spec)
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        fixtures.build(tmp, seed, **spec)
        os.replace(tmp, out)
    from xml_processor_spark.io import row_count

    got = {t: row_count(out, t) for t in want}
    if got != want:
        raise SystemExit(f"perfbench: fixture {out} has rows {got}, want {want}")
    return out


def route_record(keys, sf_dir: str) -> dict[str, dict]:
    """Which side of each llm_dedup cutover every routed key runs on."""
    from xml_processor_spark.functions import llm_dedup
    from xml_processor_spark.io import row_count

    n = row_count(sf_dir, "documents")
    return {
        k: {
            "documents": n,
            "pair_block": n >= llm_dedup._PAIR_BLOCK_MIN_DOCS,
            "recount_semi": n >= llm_dedup._RECOUNT_SEMI_MIN_DOCS,
        }
        for k in keys if k in ROUTED_KEYS
    }


def check_route_pair() -> None:
    """The two dedup workloads must sit on opposite sides of the cutover."""
    from xml_processor_spark.functions import llm_dedup

    sides = {w: WORKLOADS[w].fixture["n_docs"] >= llm_dedup._PAIR_BLOCK_MIN_DOCS
             for w in ROUTE_PAIR}
    if len(set(sides.values())) != 2:
        raise SystemExit(f"perfbench: {ROUTE_PAIR} run the same dedup route "
                         f"(pair-block side {sides})")


# -- the loop -----------------------------------------------------------------

class Client:
    """One closed-loop client: runs invocations and records what it saw."""

    def __init__(self, spark, queries, sf_dir: str, traced: bool, cpu) -> None:
        self.spark, self.queries, self.sf_dir = spark, queries, sf_dir
        self.cpu = cpu
        self.sc = spark.sparkContext
        self.failed: list[str] = []
        self.invocations: list[dict] = []
        self.py4j_calls = 0
        if traced:
            client = self.sc._gateway._gateway_client
            send = client.send_command

            def counting_send(*a, **kw):
                self.py4j_calls += 1
                return send(*a, **kw)

            client.send_command = counting_send
            self.tracker = self.sc.statusTracker()
            self.bus = self.sc._jsc.sc().listenerBus()

    def _guarded(self, groups: list[str]):
        def cancel() -> None:
            for g in groups:
                self.sc.cancelJobGroup(g)
        timer = threading.Timer(INVOCATION_TIMEOUT_S, cancel)
        timer.daemon = True
        timer.start()
        return timer

    def invoke(self, key: str, group: str, spans: bool):
        """Run one invocation; return (wall s, CPU s, frame or None)."""
        fn = self.queries[key]
        names = [f"{group}:{s}" for s in SPANS]
        timer = self._guarded(names if spans else [group])
        rec: dict = {"key": key, "group": group}
        pdf = None
        c0 = self.cpu()
        t0 = time.perf_counter()
        try:
            if not spans:
                self.sc.setJobGroup(group, key)
                pdf = fn(self.spark, self.sf_dir).toPandas()
            else:
                pdf = self._invoke_spans(fn, rec, names)
        except Exception as e:  # noqa: BLE001 - a failed key is counted, not fatal
            self.failed.append(f"{group}: {type(e).__name__}: {e}"[:300])
        finally:
            timer.cancel()
        dt = time.perf_counter() - t0
        dc = self.cpu() - c0
        if spans:
            rec["ok"] = pdf is not None
            rec["rows"] = 0 if pdf is None else len(pdf)
            self._read_status(rec, names)
            self.invocations.append(rec)
        return dt, dc, pdf

    def _invoke_spans(self, fn, rec: dict, names: list[str]):
        sp: dict[str, tuple[float, float]] = {}
        rec["spans"] = sp
        self.sc.setJobGroup(names[0], rec["key"])
        calls0, a = self.py4j_calls, time.time()
        try:
            df = fn(self.spark, self.sf_dir)
        finally:
            sp["build"] = (a, time.time())
            rec["py4j_calls"] = self.py4j_calls - calls0
        self.sc.setJobGroup(names[1], rec["key"])
        a = time.time()
        qe = df._jdf.queryExecution()
        qe.optimizedPlan()
        sp["optimize"] = (a, time.time())
        self.sc.setJobGroup(names[2], rec["key"])
        a = time.time()
        qe.executedPlan()
        sp["plan"] = (a, time.time())
        self.sc.setJobGroup(names[3], rec["key"])
        a = time.time()
        try:
            return df.toPandas()
        finally:
            sp["fetch"] = (a, time.time())

    def _read_status(self, rec: dict, names: list[str]) -> None:
        # Job groups are unique per invocation and read at once: the
        # tracker accumulates repeated group names and forgets old jobs
        # past spark.ui.retainedJobs.
        self.bus.waitUntilEmpty()
        rec["status_jobs"] = {
            n.rsplit(":", 1)[1]: len(self.tracker.getJobIdsForGroup(n))
            for n in names
        }

    def run_pass(self, tag: str, order: list[str], spans: bool,
                 keep: dict | None = None) -> dict:
        """Run the keys in order; return the pass's wall and CPU seconds, the
        host's steal share during it, and per key wall, CPU and rows."""
        steal0, ticks0 = _steal_ticks()
        parts0 = self.cpu.parts()
        start = time.perf_counter()
        out: dict = {"key_s": {}, "key_cpu_s": {}, "rows": {}}
        for key in order:
            dt, dc, pdf = self.invoke(key, f"{tag}.{key}", spans)
            out["key_s"][key], out["key_cpu_s"][key] = dt, dc
            out["rows"][key] = None if pdf is None else len(pdf)
            if keep is not None and pdf is not None:
                keep[key] = pdf
        out["s"] = time.perf_counter() - start
        parts1 = self.cpu.parts()
        out["cpu_parts_s"] = {k: parts1[k] - parts0[k] for k in parts0}
        out["cpu_s"] = sum(out["cpu_parts_s"].values())
        steal1, ticks1 = _steal_ticks()
        out["steal"] = (steal1 - steal0) / max(1, ticks1 - ticks0)
        out["traced"] = spans
        return out


# -- run --------------------------------------------------------------------

def declared_metrics(root: str, kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with TAIL_BEYOND samples
    beyond it; the maximum when there are too few samples."""
    s = sorted(samples)
    n = len(s)
    if n <= TAIL_BEYOND:
        return s[-1], 100.0
    return s[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def setup_child(root: str) -> tuple[float, float, float]:
    """One cold set-up in a fresh interpreter: (session s, registry s,
    CPU s of the interpreter and its JVM)."""
    code = (
        "import json, resource, sys, time\n"
        f"sys.path.insert(0, {root!r})\n"
        "t0 = time.perf_counter()\n"
        "from xml_processor_spark.session import build_session\n"
        "spark = build_session('perfbench-setup')\n"
        "t1 = time.perf_counter()\n"
        "from xml_processor_spark.registry import get_queries\n"
        "get_queries()\n"
        "t2 = time.perf_counter()\n"
        f"sys.path.insert(0, {HERE!r})\n"
        "from run import stop_jvm\n"
        "stop_jvm(spark)\n"
        "cpu = sum(resource.getrusage(w).ru_utime + resource.getrusage(w).ru_stime\n"
        "          for w in (resource.RUSAGE_SELF, resource.RUSAGE_CHILDREN))\n"
        "print(json.dumps([t1 - t0, t2 - t1, cpu]))\n"
    )
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=120, check=True).stdout
    return tuple(json.loads(out.strip().splitlines()[-1]))


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main() -> int:
    args = parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "xml_processor_spark", "registry.py")):
        print("perfbench: run from the repository root "
              "(xml_processor_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    wl = WORKLOADS[args.workload]
    traced = bool(args.trace)
    nproc = os.cpu_count() or 1

    # Per-run scratch: temp files, Spark local dirs and the working
    # directory (which holds spark-warehouse/) all live in one directory
    # that is measured and then removed.
    run_dir = os.path.join(root, ".perfbench", "runs",
                           f"{args.workload}-seed{args.seed}-{os.getpid()}")
    tmp, local, work = (os.path.join(run_dir, d) for d in ("tmp", "local", "work"))
    event_dir = os.path.join(run_dir, "eventlog")
    for d in (tmp, local, work, event_dir):
        os.makedirs(d, exist_ok=True)
    # No JVM writes outside the checkout: temp files go to the run
    # directory and the hsperfdata file under /tmp is not created.
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
              "--conf", "spark.ui.showConsoleProgress=false"]
    if traced:
        # One plain JSON file: no zstd reader is installed, and Spark 4
        # otherwise rolls the log into a directory of parts.
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{event_dir}",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    # The working directory moves into the run directory, so Python
    # workers find the package through PYTHONPATH instead.
    pythonpath = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=local, PYTHONPATH=pythonpath,
                      SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
                      SPARK_GRAFT_CPUS=str(nproc),
                      PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]))
    tempfile.tempdir = None  # re-read TMPDIR on next use
    os.chdir(work)
    rss = PeakRss()
    try:
        return _run(args, wl, root, run_dir, event_dir, (tmp, local, work),
                    traced, nproc, rss)
    finally:
        rss.close()
        os.chdir(root)
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, wl, root, run_dir, event_dir, scratch, traced, nproc,
         rss) -> int:
    cpu = CpuClock(rss)
    # Set-up, timed: session + registry (imports every query module).
    c0 = cpu()
    t0 = time.perf_counter()
    from xml_processor_spark.session import build_session

    spark = build_session("perfbench")
    t1 = time.perf_counter()
    from xml_processor_spark.registry import get_oracles, get_queries

    queries = get_queries()
    t2 = time.perf_counter()
    setups = [(t1 - t0, t2 - t1, cpu() - c0)]
    spark.sparkContext.setLogLevel("ERROR")

    check_route_pair()
    sf_dir = fixture_dir(root, wl.fixture, args.seed)
    routes = route_record(wl.keys, sf_dir)
    missing = [k for k in wl.keys if k not in queries]
    if missing:
        raise SystemExit(f"perfbench: keys not registered: {missing}")

    client = Client(spark, queries, sf_dir, traced, cpu)
    rng = random.Random(args.seed)
    frames: dict = {}
    first = client.run_pass("p0", rng.sample(wl.keys, len(wl.keys)), traced, frames)
    n_first_inv = len(client.invocations)
    warm: list[dict] = []
    n_warm = max(1, round(args.seconds / wl.nominal_pass_s))
    if traced:
        # Traced runs interleave plain and traced warm passes as plain,
        # traced, traced, plain, ... so a linear warm-up trend cancels out
        # of the overhead estimate; they run whole groups of four.
        n_warm = -(-n_warm // 4) * 4
    while len(warm) < n_warm:
        spans = traced and len(warm) % 4 in (1, 2)
        warm.append(client.run_pass(
            f"p{len(warm) + 1}", rng.sample(wl.keys, len(wl.keys)), spans))
    peak_rss = rss.close()
    stop_jvm(spark)
    disk_left = sum(_dir_bytes(d) for d in scratch)

    attempted = len(wl.keys) * (1 + len(warm))
    failed = len(client.failed)

    # Correctness, outside the timed region: each key's first-pass frame
    # against its oracle, and the same row count in every pass.
    import check

    oracles = get_oracles()
    duck_spill = os.path.join(run_dir, "duckdb")
    os.makedirs(duck_spill, exist_ok=True)
    con = check.connect(sf_dir, nproc, duck_spill)
    verdicts: dict[str, dict] = {}
    for key in wl.keys:
        if key not in frames:
            verdicts[key] = {"mode": "none", "problems": ["no output"]}
            continue
        try:
            mode, problems = check.check_key(key, frames[key], oracles.get(key), con)
        except Exception as e:  # noqa: BLE001 - an oracle error is a mismatch
            mode, problems = "error", [f"{type(e).__name__}: {e}"[:300]]
        counts = {first["rows"][key]} | {w["rows"][key] for w in warm}
        if len(counts) != 1:
            problems.append(f"row count differs between passes: {sorted(counts, key=str)}")
        verdicts[key] = {"mode": mode, "problems": problems}
    con.close()
    mismatches = sorted(k for k, v in verdicts.items() if v["problems"])

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": nproc, "keys": list(wl.keys), "routes": routes,
        "first_pass_key_s": first["key_s"],
        "first_pass_key_cpu_s": first["key_cpu_s"],
        "warm_pass_s": [w["s"] for w in warm],
        "warm_pass_cpu_s": [w["cpu_s"] for w in warm],
        "first_pass_cpu_parts_s": first["cpu_parts_s"],
        "warm_pass_cpu_parts_s": [w["cpu_parts_s"] for w in warm],
        "steal": [first["steal"]] + [w["steal"] for w in warm],
        "per_key_s": {k: [w["key_s"][k] for w in warm] for k in wl.keys},
        "per_key_cpu_s": {k: [w["key_cpu_s"][k] for w in warm] for k in wl.keys},
        "verdicts": verdicts, "failures": client.failed,
        "peak_rss_parts_mb": {k: v / (1 << 20) for k, v in rss.parts.items()},
    }
    warm_times = [t for w in warm for t in w["key_s"].values()]
    if not traced:
        setups += [setup_child(root) for _ in range(SETUP_CHILDREN)]
        tail_s, tail_pct = tail(warm_times)
        # The bounded pass timing is CPU seconds of the process tree. On a
        # shared host, wall time also counts the time the hypervisor gives
        # this machine's CPUs to other tenants (steal), which moved
        # warm-pass wall time by up to three quarters between runs of the
        # same code; CPU time leaves it out. Neither the cold pass nor the
        # warm passes are bounded alone: the JVM is still compiling through
        # all of them, its compiler threads take a quarter to two thirds of
        # their CPU, and how much of that lands in the cold pass rather
        # than the warm ones varies from run to run. Over the whole job it
        # evens out. The figures of the parts are reported beside it.
        metrics = {
            "setup_s": statistics.median(a + b for a, b, _ in setups),
            "job_cpu_s": first["cpu_s"] + sum(w["cpu_s"] for w in warm),
            "disk_left_mb": disk_left / (1 << 20) / (1 + len(warm)),
        }
        detail.update(setup_samples=setups,
                      first_pass_s=first["s"],
                      first_pass_cpu_s=first["cpu_s"],
                      job_s=first["s"] + sum(w["s"] for w in warm),
                      pass_s=statistics.median(w["s"] for w in warm),
                      pass_cpu_s=statistics.fmean(w["cpu_s"] for w in warm),
                      query_p50_s=statistics.median(warm_times),
                      query_tail_s=tail_s,
                      tail_percentile=tail_pct,
                      tail_samples=len(warm_times),
                      steal_frac=statistics.fmean(detail["steal"]),
                      peak_rss_mb=peak_rss / (1 << 20),
                      failed_frac=failed / attempted,
                      mismatch_count=len(mismatches))
    else:
        metrics = _trace_metrics(client, n_first_inv, warm, event_dir, setups,
                                 frames, detail)
    out_dir = os.path.join(root, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(
            out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
            "w") as f:
        json.dump(detail, f, indent=1, default=str)
    summary = {k: v for k, v in detail.items()
               if k in ("routes", "first_pass_s", "first_pass_cpu_s",
                        "job_s", "pass_s",
                        "pass_cpu_s", "query_p50_s",
                        "query_tail_s", "tail_percentile", "tail_samples",
                        "steal_frac", "peak_rss_mb", "failed_frac",
                        "mismatch_count")}
    summary["mismatched_keys"] = mismatches
    print("perfbench " + json.dumps(summary, default=str))
    units = declared_metrics(root, "per_layer" if traced else "end_to_end")
    if set(units) != set(metrics):
        raise SystemExit(f"perfbench: metrics {sorted(metrics)} differ from "
                         f"BENCHMARK.json {sorted(units)}")
    print(json.dumps({
        "correct": not mismatches,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


def _trace_metrics(client, n_first_inv, warm, event_dir, setups, frames,
                   detail) -> dict:
    import layers

    groups = layers.read_event_log(event_dir)
    frame_mb = {k: float(f.memory_usage(deep=True).sum()) / (1 << 20)
                for k, f in frames.items()}
    invs = client.invocations
    for inv in invs:
        inv["frame_mb"] = frame_mb.get(inv["key"], 0.0)
    warm_invs = invs[n_first_inv:]
    traced_walls = [w["s"] for w in warm if w["traced"]]
    plain_walls = [w["s"] for w in warm if not w["traced"]]
    n = len(traced_walls)
    m = layers.layer_metrics(warm_invs, groups, n)

    # Harness self-checks: every span present, the tracker and the event
    # log agree on job counts, and the layers partition the traced time.
    problems = []
    for inv in invs:
        if inv["ok"] and set(inv["spans"]) != set(SPANS):
            problems.append(f"{inv['group']}: spans {sorted(inv.get('spans', {}))}")
        for span, count in inv["status_jobs"].items():
            g = groups.get(f"{inv['group']}:{span}")
            if count != (len(g.jobs) if g else 0):
                problems.append(f"{inv['group']}:{span}: tracker {count} jobs, "
                                f"event log {len(g.jobs) if g else 0}")
    wall = sum(traced_walls) / n
    spans_total = sum(b - a for inv in warm_invs
                      for a, b in inv["spans"].values()) / n
    m["trace.residual_s"] = wall - spans_total
    m["trace.overhead_frac"] = sum(traced_walls) / sum(plain_walls) - 1
    for part in ("driver_py", "jvm", "jit", "pyworker"):
        m[f"cpu.{part}_s"] = statistics.fmean(
            w["cpu_parts_s"][part] for w in warm if w["traced"])
    m["session.build_s"] = setups[0][0]
    m["registry.load_s"] = setups[0][1]
    parts = ("construct.wall_s", "catalyst.optimize_s", "catalyst.plan_s",
             "exec.job_wall_s", "exec.gap_s", "fetch.wall_s", "trace.residual_s")
    layer_sum = sum(m[p] for p in parts)
    if abs(layer_sum - wall) > 0.01 * wall:
        problems.append(f"layers sum to {layer_sum:.4f}s, traced wall {wall:.4f}s")
    if any(m[p] < -1e-6 for p in parts):
        problems.append(f"negative layer time: { {p: m[p] for p in parts} }")
    detail.update(traced_pass_s=traced_walls, plain_pass_s=plain_walls,
                  layer_sum_s=layer_sum, traced_wall_s=wall,
                  invocations=invs, harness_problems=problems)
    if problems:
        raise SystemExit("perfbench: harness self-check failed: "
                         + "; ".join(problems[:5]))
    return m


if __name__ == "__main__":
    sys.exit(main())
