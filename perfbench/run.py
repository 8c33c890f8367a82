#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload code_batches --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run builds a local Spark session sized to
the machine three times (the first build from process start, with the JVM
launch), runs one warm-up op, and reports as ``setup_s`` the median build
time plus the warm-up op. Workloads whose first ops after the warm-up are
still slower then run untimed settle ops. It then runs ops one at a time (a
closed loop with one client) until ``--seconds`` of op time and at least two
ops have been measured. Every op's output
is checked against the planted inputs. ``--trace 1`` instead runs each op
untraced and then traced on the same input and reports per-layer metrics.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it is the
run's stamp (machine, versions, settings). The full record is also written
to ``.perfbench/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402

SETUP_REPS = 3
MIN_OPS = 2             # op samples per untraced run, whatever --seconds says
RUN_CAP_S = 150         # start no op that would end past this process age
WATCHDOG_S = 175        # a run still alive at this age is killed, exit 3
CODE_ROWS = 2000        # files per code batch
DNSBL_FEEDS = 4
DNSBL_LINES = 40_000    # lines per feed
WORK = os.path.join(ROOT, ".perfbench")


# ---------------------------------------------------------------------------
# machine
# ---------------------------------------------------------------------------

def process_start_epoch() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(x.split()[1]) for x in f if x.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def mem_total_gib() -> float:
    with open("/proc/meminfo") as f:
        kb = next(int(x.split()[1]) for x in f if x.startswith("MemTotal"))
    return kb / 2**20


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of RAM, 2-8 GiB: the program's own default (24g) is larger
    than small machines."""
    return f"{min(8, max(2, int(mem_total_gib() / 4)))}g"


def fs_type(path: str) -> str:
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, fstype = line.split()[:3]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, kind = mnt, fstype
    return kind


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    ref = open(head).read().strip()
    if not ref.startswith("ref: "):
        return ref
    ref = ref[5:]
    loose = os.path.join(ROOT, ".git", ref)
    if os.path.exists(loose):
        return open(loose).read().strip()
    packed = os.path.join(ROOT, ".git", "packed-refs")
    if os.path.exists(packed):
        for line in open(packed):
            if line.strip().endswith(ref):
                return line.split()[0]
    return None


def source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "dedup_domains_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(d, name)
                h.update(os.path.relpath(p, ROOT).encode())
                h.update(open(p, "rb").read())
    return h.hexdigest()[:16]


def stamp(local_dir: str) -> dict:
    import platform

    import pyspark

    return {
        "nproc": nproc(),
        "mem_gib": round(mem_total_gib(), 1),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "driver_mem": driver_mem(),
        "local_dir_fs": fs_type(local_dir),
        "git_commit": git_commit(),
        "source_sha256": source_digest(),
    }


class Processes:
    """Every process the run started, directly or not: the JVM, the Python
    worker daemon and its workers. A worker can outlive its parent and be
    re-parented away, so processes are recorded while they are still
    descendants; a (pid, start time) pair identifies one across pid reuse."""

    def __init__(self):
        self.seen: dict[int, int] = {}

    def note(self) -> list[int]:
        pids = descendants()
        for p in pids:
            self.seen.setdefault(p, start_ticks(p))
        return pids

    def alive(self) -> list[int]:
        return [p for p, t in self.seen.items() if t and start_ticks(p) == t]

    def wait_all(self, timeout: float = 15.0) -> None:
        """Wait for every recorded process to end; kill what is left."""
        deadline = time.time() + timeout
        while self.alive() and time.time() < deadline:
            time.sleep(0.1)
        for p in self.alive():
            try:
                os.kill(p, 9)
            except OSError:
                pass
        deadline = time.time() + 5
        while self.alive() and time.time() < deadline:
            time.sleep(0.1)


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants (the JVM and its Python
    workers) since the last ``take()``, sampled from /proc every 0.2 s.
    A ``jvm_clone`` shares the JVM's memory and is left out: counting it
    would count the JVM twice."""

    def __init__(self, procs: Processes):
        super().__init__(daemon=True)
        self.procs = procs
        self.peak_kb = 0
        self._stop_event = threading.Event()

    def run(self):
        while not self._stop_event.is_set():
            self.peak_kb = max(self.peak_kb, sum(
                rss_kb(p) for p in self.procs.note() if not jvm_clone(p)))
            self._stop_event.wait(0.2)

    def take(self) -> float:
        """The peak in MB since the last call; starts a new peak."""
        peak, self.peak_kb = self.peak_kb, 0
        return peak / 1024

    def stop(self) -> None:
        self._stop_event.set()
        self.join()


def descendants(pid: int | None = None) -> list[int]:
    pid = pid or os.getpid()
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def jvm_clone(pid: int) -> bool:
    """Whether ``pid`` is a JVM's child that still runs the JVM's program:
    a process the JVM is starting (a Python worker, a shell command),
    caught between its clone and its exec."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        exe = os.readlink(f"/proc/{pid}/exe")
        return (os.path.basename(exe) == "java"
                and os.readlink(f"/proc/{ppid}/exe") == exe)
    except (OSError, IndexError, ValueError):
        return False


def start_ticks(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[19])
    except (OSError, IndexError, ValueError):
        return None


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------

def build_session(work: str, event_log_dir: str | None):
    from dedup_domains_spark import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the whole heap from the start: otherwise RSS depends on when
            # the collector decides to grow the heap, which varies run to run
            "spark.driver.extraJavaOptions": f"-Xms{driver_mem()}"}
    if event_log_dir:
        conf.update(tracing.event_log_conf(event_log_dir))
    return get_spark("perfbench", parallelism=nproc(), extra_conf=conf)


def start_python_workers(spark) -> None:
    """One small Arrow UDF job with a task per core, so that the Python
    workers are running before the first op."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def plus_one(v: pd.Series) -> pd.Series:
        return v + 1

    n = nproc()
    spark.range(0, 64 * n, numPartitions=n).select(plus_one("id")).collect()


def persistent_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def full_reset(spark) -> None:
    """Drop every cached block: clearCache() alone leaves localCheckpoint
    RDDs registered."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def shutdown(spark, procs: Processes) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for all."""
    from pyspark import SparkContext

    procs.note()
    gateway = SparkContext._gateway
    jvm_proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if jvm_proc is not None:
        jvm_proc.stdin.close()
        try:
            jvm_proc.wait(timeout=30)
        except Exception:
            jvm_proc.kill()
            jvm_proc.wait()
    procs.wait_all()
    SparkContext._gateway = None
    SparkContext._jvm = None


def log(t_proc: float, msg: str) -> None:
    print(f"[perfbench +{time.time() - t_proc:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


def kill_and_exit() -> None:
    """Watchdog: kill the JVM and workers of a hung run and exit with 3."""
    print("perfbench: run exceeded its time limit", file=sys.stderr, flush=True)
    for p in descendants():
        try:
            os.kill(p, 9)
        except OSError:
            pass
    os._exit(3)


def cli(argv: list[str]) -> str:
    """Run the program's command line in this process; return its stdout."""
    from dedup_domains_spark.__main__ import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    if rc:
        raise RuntimeError(f"CLI exited with {rc}")
    return buf.getvalue()


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class CodeBatches:
    """The ``code`` CLI path (load_code_corpus -> run_pipeline ->
    write_results) called back to back in one session, each call on a new
    batch of files; the cache is never reset between calls."""

    layers = tracing.CODE_LAYERS
    reset_each_op = False
    settle_ops = 0

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed

    def make_input(self, tag: str):
        files, planted = gen.code_batch(self.seed, tag, CODE_ROWS)
        path = os.path.join(self.work, "in", f"batch_{tag}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        files.to_parquet(path, row_group_size=8192, index=False)
        return {"path": path, "files": files, "planted": planted,
                "rows": CODE_ROWS}

    def warmup_input(self):
        return self.make_input("w")

    def op_input(self, i: int):
        return self.make_input(str(i))

    def run_op(self, inp, out: str):
        stdout = cli(["code", "--input", inp["path"], "--output", out,
                      "--parallelism", str(nproc())])
        return json.loads(stdout.strip().splitlines()[-1])

    def check(self, inp, out: str, manifest: dict) -> dict:
        files = inp["files"]
        cmap = pd.read_parquet(os.path.join(out, "cluster_map"),
                               columns=["uid", "cluster_id"])
        surv = pd.read_parquet(os.path.join(out, "survivors"),
                               columns=["repo", "path", "commit", "content_sha256"])
        uid_row = {checks.row_uid(r, p, c): i for i, (r, p, c) in enumerate(
            zip(files.repo, files.path, files.commit))}
        final = {uid_row[u]: c for u, c in zip(cmap.uid, cmap.cluster_id)
                 if u in uid_row}
        recall, mixed = checks.cluster_check(inp["planted"], final)
        kept = set(zip(surv.repo, surv.path, surv.commit))
        passthrough = files[files.lang == "binary"]
        pt_kept = all(k in kept for k in zip(
            passthrough.repo, passthrough.path, passthrough.commit))
        ok = (manifest.get("sha256_invariant_violations") == 0
              and recall >= 0.99 and mixed == 0 and pt_kept)
        digest = hashlib.sha256(
            "\n".join(sorted(surv.content_sha256)).encode()).hexdigest()
        return {"ok": ok, "recall": recall, "digest": digest,
                "manifest_metrics": manifest.get("metrics", {})}


class DnsblFeeds:
    """The ``dnsbl --prune-regex`` CLI path (load_dnsbl_files ->
    dedup_dnsbl -> regex_kill -> write_survivor_text_files) over the same
    feeds in every op and warm-up, with every cached block dropped before
    each op."""

    layers = tracing.DNSBL_LAYERS
    reset_each_op = True
    settle_ops = 1          # the first op after the warm-up is still slower

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self._main = None

    def make_input(self):
        feeds = gen.dnsbl_feeds(self.seed, DNSBL_FEEDS, DNSBL_LINES)
        d = os.path.join(self.work, "in", "feeds")
        os.makedirs(d, exist_ok=True)
        paths = [os.path.join(d, f"feed_{i}.fat") for i in range(len(feeds))]
        gen.write_feeds(feeds, paths)
        expected = checks.dnsbl_expected_outputs(feeds, prune_regex=True)
        n = sum(map(len, feeds))
        pruned = n - sum(e.count(b"\n") for e in expected)
        return {"paths": paths, "expected": expected, "rows": n, "pruned": pruned}

    def warmup_input(self):
        return self.op_input(0)

    def op_input(self, i: int):
        if self._main is None:
            self._main = self.make_input()
        return self._main

    def run_op(self, inp, out: str):
        stdout = cli(["dnsbl", "--inputs", *inp["paths"], "--output", out,
                      "--prune-regex", "--parallelism", str(nproc())])
        return json.loads(stdout.strip().splitlines()[-1])

    def check(self, inp, out: str, summary: dict) -> dict:
        got = []
        for p in inp["paths"]:
            base = os.path.splitext(os.path.basename(p))[0]
            with open(os.path.join(out, base + ".pruned"), "rb") as f:
                got.append(f.read())
        ok = got == inp["expected"]
        if ok:
            recall = 1.0
        else:  # share of oracle-pruned lines the program pruned too
            missed = sum(max(0, g.count(b"\n") - e.count(b"\n"))
                         for g, e in zip(got, inp["expected"]))
            recall = 1 - missed / inp["pruned"] if inp["pruned"] else 1.0
        digest = hashlib.sha256(b"\0".join(got)).hexdigest()
        return {"ok": ok and summary.get("survivors") == sum(
            e.count(b"\n") for e in inp["expected"]),
            "recall": recall, "digest": digest, "manifest_metrics": {}}


WORKLOADS = {"code_batches": CodeBatches, "dnsbl_feeds": DnsblFeeds}


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def run_checked(wl, spark, inp, out: str) -> dict:
    """One op: wall time, persistent-RDD delta and the output check."""
    before = persistent_rdds(spark)
    t0 = time.perf_counter()
    try:
        result = wl.run_op(inp, out)
    except Exception:
        traceback.print_exc()
        return {"ok": False, "wall_s": time.perf_counter() - t0,
                "rows": inp["rows"], "leaked_rdds": 0, "recall": 0.0, "digest": None,
                "manifest_metrics": {}}
    wall = time.perf_counter() - t0
    rec = {"wall_s": wall, "rows": inp["rows"],
           "leaked_rdds": persistent_rdds(spark) - before}
    try:
        rec.update(wl.check(inp, out, result))
    except Exception:
        traceback.print_exc()
        rec.update(ok=False, recall=0.0, digest=None, manifest_metrics={})
    shutil.rmtree(out, ignore_errors=True)
    return rec


def layer_metrics(tracer, log: dict, untraced_wall: float, op: dict) -> dict:
    """The per-layer metric values of one traced op."""
    vals: dict[str, float] = {}
    for layer in tracing.LAYERS:
        m = log.get(layer, {})
        vals[f"{layer}.wall_s"] = tracer.self_s.get(layer, 0.0)
        vals[f"{layer}.jobs"] = m.get("jobs", 0)
        vals[f"{layer}.task_s"] = m.get("task_s", 0.0)
        vals[f"{layer}.shuffle_write_mb"] = m.get("shuffle_write_mb", 0.0)
        vals[f"{layer}.shuffle_read_mb"] = m.get("shuffle_read_mb", 0.0)
        vals[f"{layer}.rows_out"] = tracer.rows.get(layer, 0)
    for layer in tracing.PY_LAYERS:
        m = log.get(layer, {})
        for name, _ in tracing.PY_METRICS:
            vals[f"{layer}.{name}"] = m.get(name, 0.0)
    fn = tracer.fn_rows

    def ratio(a, b):
        return a / b if b else 0.0

    mm = op.get("manifest_metrics", {})
    vals["verify.accept_ratio"] = ratio(fn.get("verify_pairs_estimate", 0),
                                        fn.get("fused_candidate_pairs", 0))
    vals["containment.accept_ratio"] = ratio(fn.get("contained_pairs", 0),
                                             fn.get("containment_candidates", 0))
    vals["exact.rep_ratio"] = ratio(mm.get("exact_reps", 0), mm.get("dedupable", 0))
    vals["cc.iterations"] = mm.get("cc_iterations", 0)
    vals["domain.ancestor_keys_per_row"] = ratio(
        log.get("domain", {}).get("generate_rows", 0), tracer.rows.get("parse", 0))
    lo, hi = tracer.window_ms
    busy = tracing.busy_ms(log[None], lo, hi) / 1000
    vals["pipeline.wall_s"] = tracer.wall_s
    vals["pipeline.glue_s"] = tracer.self_s.get(tracing.ROOT, 0.0)
    vals["pipeline.driver_gap_s"] = tracer.wall_s - busy
    vals["pipeline.jobs"] = len(log[None])
    vals["pipeline.tracing_overhead_s"] = tracer.wall_s - untraced_wall
    return vals


def end_to_end_metrics(builds: list[float], warmup_s: float,
                       ops: list[dict]) -> dict:
    """The end-to-end metric values of an untraced run. ``setup_s`` is the
    median session build plus the warm-up op; ``peak_rss_mb`` the median of
    the ops' peaks. Op timings come from the ops that passed their check
    (all ops when none did)."""
    good = [o for o in ops if o["ok"]] or ops
    return {
        "setup_s": statistics.median(builds) + warmup_s,
        "rows_per_s": sum(o["rows"] for o in good) / sum(o["wall_s"] for o in good),
        "op_p50_s": statistics.median(o["wall_s"] for o in good),
        "peak_rss_mb": statistics.median(o["peak_rss_mb"] for o in ops),
        "dup_pair_recall": statistics.median(o["recall"] for o in ops),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_proc = process_start_epoch()
    if not os.path.exists(os.path.join(ROOT, "dedup_domains_spark", "__init__.py")):
        print("dedup_domains_spark is not in this checkout", file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update(
        SPARK_DRIVER_MEM=driver_mem(),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(nproc()),
        TMPDIR=os.path.join(work, "tmp"),
        # every JVM, the launcher's too: temp files in the work dir, and no
        # hsperfdata files in the system temp dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                          "-XX:-UsePerfData",
    )
    sys.path.insert(0, ROOT)
    import dedup_domains_spark  # noqa: F401  (fails fast without the program)

    watchdog = threading.Timer(WATCHDOG_S - (time.time() - t_proc), kill_and_exit)
    watchdog.daemon = True
    watchdog.start()
    wl = WORKLOADS[args.workload](work, args.seed)
    event_dir = os.path.join(work, "events") if args.trace else None
    spark = None
    procs = Processes()
    try:
        # --- set-up: build the session SETUP_REPS times (the first build
        # from process start, with the JVM launch), then one warm-up op ---
        g0 = time.time()
        warm = wl.warmup_input()
        gen_s = time.time() - g0
        builds = []
        for rep in range(SETUP_REPS):
            t0 = t_proc + gen_s if rep == 0 else time.time()
            if spark is not None:
                procs.note()
                spark.stop()
            spark = build_session(work, event_dir)
            start_python_workers(spark)
            procs.note()
            builds.append(time.time() - t0)
            log(t_proc, f"session build {rep}: {builds[-1]:.2f}s")
        res = run_checked(wl, spark, warm, os.path.join(work, "warm"))
        if not res["ok"]:
            raise RuntimeError("the warm-up op failed its check")
        warmup_s = res["wall_s"]
        log(t_proc, f"warm-up op: {warmup_s:.2f}s")
        # --- untimed settle ops, checked like every op ---
        settle = []
        for k in range(wl.settle_ops):
            if wl.reset_each_op:
                full_reset(spark)
            settle.append(run_checked(wl, spark, wl.op_input(-1 - k),
                                      os.path.join(work, f"settle{k}")))
            log(t_proc, f"settle op {k}: {settle[-1]['wall_s']:.2f}s "
                        f"ok={settle[-1]['ok']}")

        # --- measured ops ---
        ops, traced = [], []
        sampler = RssSampler(procs)
        sampler.start()
        measured, i = 0.0, 0
        min_ops = 1 if args.trace else MIN_OPS
        while i < min_ops or (measured < args.seconds and time.time() - t_proc
                              + 1.5 * statistics.median(o["wall_s"] for o in ops)
                              < RUN_CAP_S):
            inp = wl.op_input(i)
            if wl.reset_each_op or args.trace:
                full_reset(spark)
            sampler.take()
            op = run_checked(wl, spark, inp, os.path.join(work, f"op{i}"))
            op["peak_rss_mb"] = sampler.take()
            ops.append(op)
            measured += op["wall_s"]
            log(t_proc, f"op {i}: {op['wall_s']:.2f}s ok={op['ok']}")
            if args.trace:
                full_reset(spark)
                tracer = tracing.LayerTracer()
                try:
                    with tracer.op(spark.sparkContext, wl.layers, f"t{i}"):
                        top = run_checked(wl, spark, inp,
                                          os.path.join(work, f"traced{i}"))
                finally:
                    tracer.release()
                top["ok"] = top["ok"] and top["digest"] == op["digest"]
                traced.append((tracer, op["wall_s"], top))
                log(t_proc, f"traced op {i}: {top['wall_s']:.2f}s ok={top['ok']}")
                measured += top["wall_s"]
            i += 1
        sampler.stop()
        shutdown(spark, procs)
        spark = None
        log(t_proc, "stopped")

        all_ops = settle + ops + [t for _, _, t in traced]
        if args.trace:
            samples = []
            for n, (tracer, wall, top) in enumerate(traced):
                elog = tracing.event_log_metrics(event_dir, f"t{n}")
                vals = layer_metrics(tracer, elog, wall, top)
                vals["pipeline.leaked_rdds"] = ops[n]["leaked_rdds"]
                samples.append(vals)
            values = {name: statistics.median(s[name] for s in samples)
                      for name in samples[0]}
        else:
            values = end_to_end_metrics(builds, warmup_s, ops)
        units = metric_units()
        out_metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
        failed = sum(not o["ok"] for o in all_ops)
        result = {"correct": failed == 0, "attempted": len(all_ops),
                  "failed": failed, "metrics": out_metrics}
        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "stamp": stamp(os.environ["SPARK_LOCAL_DIRS"]),
            "session_build_s": builds,
            "warmup_op_s": warmup_s,
            "settle_op_s": [o["wall_s"] for o in settle],
            "op_samples_s": [o["wall_s"] for o in ops],
            "leaked_rdds": [o["leaked_rdds"] for o in ops],
            "peak_rss_mb": [o["peak_rss_mb"] for o in ops],
            "result": result,
        }
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        with open(os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}"
                               f"-trace{args.trace}.json"), "w") as f:
            json.dump(record, f, indent=1)
        print(json.dumps({"stamp": record["stamp"], "ops": len(ops),
                          "session_build_s": builds, "warmup_op_s": warmup_s}))
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            shutdown(spark, procs)
        shutil.rmtree(work, ignore_errors=True)


def metric_units() -> dict:
    """Unit of every metric, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
