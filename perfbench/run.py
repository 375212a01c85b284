"""Layer-attributed benchmark of the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One process is one run: it starts one
Spark application at ``local[nproc]`` through ``session.get_spark``, runs
untimed warm-up passes over the workload's steps on the fixed tables in
``perfbench/data`` (the first one's outputs are checked against DuckDB
oracles), then timed passes until ``--seconds`` is used up and at least
two have run.
The seed only permutes the step order of every pass.

The last stdout line is the JSON result.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` alternates untraced and traced passes
(at least three) and reports the per-layer metrics (README.md).  A
human-readable report goes to stderr.
"""

from __future__ import annotations

import os
import time


def _host_cpu() -> tuple[float, float]:
    """CPU seconds this host has run (user, system, interrupts) and has
    had stolen by the hypervisor, summed over all CPUs."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    busy = ticks[0] + ticks[1] + ticks[2] + ticks[5] + ticks[6]
    return busy / os.sysconf("SC_CLK_TCK"), ticks[7] / os.sysconf("SC_CLK_TCK")


T_PROCESS = time.perf_counter()
CPU_PROCESS = _host_cpu()

import argparse  # noqa: E402
import json  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

import spans  # noqa: E402
from workloads import PIPELINE, PIPELINE_MONTHS, WORKLOADS  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
# The 0.01-scale fixture tables the engine's oracle tests run on, read-only.
DATA = Path(__file__).resolve().parent / "data"
# End-to-end metrics BENCHMARK.json bounds: defined, non-zero and
# steady on every workload.
BOUNDED = ("setup_s", "wall_s")
# Untimed passes before the timed ones, all counted in setup_s.  The
# first is cold and collects the outputs for the checks; after it the
# JIT still speeds a pass up by a fifth, so a second one, with the
# timed passes' noop writes, runs before timing starts.
WARMUP_PASSES = 2
# Untraced runs time at least this many passes, so every run's median
# covers the same pass count whether the host runs fast or slow.
MIN_PASSES = 2
STEP_TIMEOUT_S = 60.0
# Passes are not started after this point, so a run always ends within
# three minutes.
LAST_PASS_START_S = 110.0


def _host() -> dict:
    cpus = len(os.sched_getaffinity(0))
    pages = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    ram_gb = pages / 2**30
    # Heap: a quarter of RAM, at most 2g -- the tables are small, and
    # the engine's 24g default exceeds small hosts.  The heap is sized
    # at start (-Xms): a heap that grows during the timed passes makes
    # their walls fall by a third over a run as collections thin out.
    heap_gb = max(1, min(2, int(ram_gb / 4)))
    return {"nproc": cpus, "ram_gb": round(ram_gb, 1), "heap": f"{heap_gb}g"}


def _isolate(run_dir: Path, host: dict) -> None:
    """Point every scratch location of Python, the JVM and the engine
    into ``run_dir`` and size the engine to the host."""
    for sub in ("tmp", "local", "warehouse", "work"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(host["nproc"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = host["heap"]
    tempfile.tempdir = None
    os.chdir(run_dir / "work")


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Bench:
    def __init__(self, args: argparse.Namespace, run_dir: Path, host: dict):
        self.args = args
        self.run_dir = run_dir
        self.host = host
        self.steps = WORKLOADS[args.workload].steps
        self.rng = random.Random(args.seed)
        self.data_dir = DATA
        self.render_s = 0.0
        self._render_fns: dict = {}
        # One entry per failed step of a pass: "pass <i> <step>" -> why.
        self.failures: dict[str, str] = {}
        self.attempted = 0
        self.digests: list[str] | None = None

    # -- engine calls --------------------------------------------------

    def start(self) -> None:
        from awsbatch_mapreduce_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.run_dir / 'tmp'} "
                    f"-Dderby.system.home={self.run_dir / 'work'} -XX:-UsePerfData "
                    f"-Xms{self.host['heap']}",
                "spark.driver.host": "127.0.0.1",
                "spark.driver.bindAddress": "127.0.0.1",
            },
        )
        self.session_start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")

    def stop(self) -> None:
        """Stop Spark, then close the JVM's stdin (its exit signal) and
        wait for it."""
        gateway = self.sc._gateway
        self.spark.stop()
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def _render_timer(self, fn):
        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.render_s += time.perf_counter() - t0
        return timed

    def run_step(self, name: str, tag: str, collect: bool) -> tuple[spans.StepSpan, object]:
        """Builder call then action call, each under its own job group.
        A step running past STEP_TIMEOUT_S has its jobs cancelled."""
        from awsbatch_mapreduce_spark.pipeline import run_reference_pipeline
        from awsbatch_mapreduce_spark.plans import QUERIES

        span = spans.StepSpan(name, spans.Span(f"{tag}|{name}|build"),
                              spans.Span(f"{tag}|{name}|action"))
        timer = threading.Timer(STEP_TIMEOUT_S, self.sc.cancelAllJobs)
        timer.start()
        out = None
        self.render_s = 0.0
        try:
            span.build.t0 = time.time()
            self.sc.setJobGroup(span.build.group, name)
            df = None if name == PIPELINE else QUERIES[name].builder(
                self.spark, str(self.data_dir))
            span.build.t1 = span.action.t0 = time.time()
            self.sc.setJobGroup(span.action.group, name)
            if df is None:
                out = run_reference_pipeline(
                    self.spark, str(self.data_dir), self.run_dir / "frames" / tag,
                    max_months=PIPELINE_MONTHS)
            else:
                if collect:
                    out = (df.columns, df.collect())
                else:
                    df.write.format("noop").mode("overwrite").save()
            span.action.t1 = time.time()
        except Exception as e:  # a failing step is counted, the run goes on
            first_line = (str(e).splitlines() or [""])[0]
            span.error = f"{type(e).__name__}: {first_line[:200]}"
            span.action.t1 = span.action.t1 or time.time()
            span.build.t1 = span.build.t1 or span.action.t1
            span.action.t0 = span.action.t0 or span.build.t1
        finally:
            timer.cancel()
        if time.time() - span.t0 > STEP_TIMEOUT_S:
            span.error = span.error or f"timed out after {STEP_TIMEOUT_S:.0f} s"
        span.render_s = self.render_s
        return span, out

    def run_pass(self, index: int, traced: bool, collect: bool = False):
        order = list(self.steps)
        self.rng.shuffle(order)
        p = spans.PassSpan(index, traced)
        outputs = {}
        busy0, steal0 = _host_cpu()
        t0 = time.perf_counter()
        for name in order:
            span, out = self.run_step(name, f"p{index}", collect)
            p.steps.append(span)
            outputs[name] = out
        p.wall = time.perf_counter() - t0
        busy1, steal1 = _host_cpu()
        p.busy_s, p.steal_s = busy1 - busy0, steal1 - steal0
        return p, outputs

    # -- bookkeeping outside the timer ------------------------------------

    def after_pass(self, p: spans.PassSpan, outputs: dict, frames_ok) -> None:
        jss = self.spark._jsparkSession
        p.cache_entries = int(jss.sharedState().cacheManager().numCachedEntries())
        p.storage_mb = sum(
            i.memSize() + i.diskSize() for i in self.sc._jsc.sc().getRDDStorageInfo()
        ) / spans.MB
        for s in p.steps:
            self.attempted += 1
            problem = s.error
            if not problem and p.cache_entries:
                problem = f"{p.cache_entries} cache entries left"
            if not problem and s.name == PIPELINE and frames_ok is not None:
                problem = frames_ok(outputs[PIPELINE])
            if problem:
                self.failures.setdefault(f"pass {p.index} {s.name}", problem)
        if p.traced:
            spans.layers(p, spans.read_back(self.spark))
        shutil.rmtree(self.run_dir / "frames" / f"p{p.index}", ignore_errors=True)

    def check_outputs(self, warm: dict) -> dict:
        """Compare the first warm-up pass's outputs with the oracles; return
        the per-run counts read from ``minhash_lsh_eval``."""
        import check
        from awsbatch_mapreduce_spark.plans import QUERIES

        con = check.connect(self.data_dir)
        counts = {"plans.lsh_candidates": 0.0, "plans.lsh_hits_per_candidate_ppm": 0.0}
        for name, out in warm.items():
            if out is None:
                continue  # the step raised; already counted as failed
            if name == PIPELINE:
                problem = check.check_pipeline(check.expected_frames(con), out, PIPELINE_MONTHS)
                self.digests = check.frame_digests(out)
            else:
                columns, rows = out
                problem = check.check_query(con, QUERIES[name].oracle, columns, rows)
                if name == "minhash_lsh_eval" and problem is None:
                    row = next(r for r in rows if r["tau_bp"] == 5000)
                    counts["plans.lsh_candidates"] = float(row["n_candidates"])
                    counts["plans.lsh_hits_per_candidate_ppm"] = float(row["precision_ppm"])
            if problem:
                self.failures[f"pass 0 {name}"] = f"check: {problem}"
        con.close()
        return counts

    def frames_match_warmup(self, manifest: dict) -> str | None:
        import check

        if check.frame_digests(manifest) != self.digests:
            return "frames differ from the checked warm-up frames"
        return None

    # -- the run ---------------------------------------------------------

    def run(self) -> dict:
        self.start()
        try:
            return self._passes()
        finally:
            self.stop()

    def _passes(self) -> dict:
        traced = bool(self.args.trace)
        warm = [self.run_pass(i, traced=False, collect=i == 0)
                for i in range(WARMUP_PASSES)]
        setup_raw_s = time.perf_counter() - T_PROCESS
        busy, steal = _host_cpu()
        setup_s = unstolen(setup_raw_s, busy - CPU_PROCESS[0], steal - CPU_PROCESS[1])
        t_check = time.perf_counter()
        counts = self.check_outputs(warm[0][1])
        check_s = time.perf_counter() - t_check
        frames_ok = self.frames_match_warmup if PIPELINE in self.steps else None
        for i, (p, out) in enumerate(warm):
            self.after_pass(p, out, frames_ok if i else None)

        passes: list[spans.PassSpan] = []
        spent = 0.0
        while True:
            tracing_this = traced and len(passes) % 2 == 1
            if traced:
                self._set_render_timing(tracing_this)
            p, out = self.run_pass(WARMUP_PASSES + len(passes), tracing_this)
            spent += p.wall
            self.after_pass(p, out, frames_ok)
            passes.append(p)
            # A traced run needs a traced pass between two untraced ones,
            # so the overhead estimate is not skewed by warming.
            enough = len(passes) >= (3 if traced else MIN_PASSES)
            if enough and (
                spent >= self.args.seconds
                or time.perf_counter() - T_PROCESS > LAST_PASS_START_S
            ):
                break
        if traced:
            self._set_render_timing(False)
        rss_kb = _vm_hwm_kb("self") + _vm_hwm_kb(self.sc._gateway.proc.pid)
        return {
            "setup_s": setup_s,
            "setup_raw_s": setup_raw_s,
            "warmup": [p for p, _ in warm],
            "check_s": check_s,
            "passes": passes,
            "peak_rss_mb": rss_kb / 1024,
            "counts": counts,
            "env": self._environment(),
        }

    def _set_render_timing(self, on: bool) -> None:
        """Time the pipeline's PNG shading and encoding (traced passes)."""
        from awsbatch_mapreduce_spark.operators import render

        if not self._render_fns:
            self._render_fns = {fn: getattr(render, fn) for fn in ("eq_hist_shade", "write_png")}
        for fn, orig in self._render_fns.items():
            setattr(render, fn, self._render_timer(orig) if on else orig)

    def _environment(self) -> dict:
        jvm = self.spark._jvm
        return dict(
            self.host,
            heap_max_mb=int(jvm.java.lang.Runtime.getRuntime().maxMemory()) // 2**20,
            spark=self.spark.version,
            java=jvm.System.getProperty("java.version"),
            python=platform.python_version(),
        )


# -- results ----------------------------------------------------------------


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def unstolen(wall: float, busy: float, steal: float) -> float:
    """``wall`` with the CPU the hypervisor stole taken out: scaled by the
    share of the CPU time this host asked for that it got.  On a shared
    host a pass that loses a quarter of its CPU this way runs a third
    longer (README.md, "Host noise")."""
    return wall * busy / (busy + steal) if busy + steal > 0 else wall


def _pass_s(p: spans.PassSpan) -> float:
    return unstolen(p.wall, p.busy_s, p.steal_s)


def end_to_end(res: dict) -> dict[str, tuple[float, str, int]]:
    """Metric -> (value, unit, samples): the BOUNDED metrics, then seven
    reported on stderr only (README.md says why)."""
    passes = [p for p in res["passes"] if not p.traced]
    by_step: dict[str, list[float]] = {}
    for p in passes:
        for s in p.steps:
            by_step.setdefault(s.name, []).append(s.wall)
    attempted = max(1, res["attempted"])
    return {
        "setup_s": (res["setup_s"], "s", 1),
        "wall_s": (_median([_pass_s(p) for p in passes]), "s", len(passes)),
        "setup_raw_s": (res["setup_raw_s"], "s", 1),
        "wall_raw_s": (_median([p.wall for p in passes]), "s", len(passes)),
        "query_gmean_s": (
            statistics.geometric_mean(_median(w) for w in by_step.values()), "s",
            sum(len(w) for w in by_step.values())),
        "peak_rss_mb": (res["peak_rss_mb"], "MB", 1),
        "index_write_s": (
            _median([sum(s.build.dur for s in p.steps) for p in passes]), "s", len(passes)),
        "index_read_s": (
            _median([sum(s.action.dur for s in p.steps) for p in passes]), "s", len(passes)),
        "failed_frac": (res["failed"] / attempted, "ratio", attempted),
    }


def per_layer(res: dict) -> dict[str, tuple[float, str, int]]:
    traced = [p for p in res["passes"] if p.traced]
    plain = [p for p in res["passes"] if not p.traced]
    out = {}
    for name, unit in spans.LAYER_UNITS.items():
        vals = [p.layers[name] for p in traced]
        out[name] = (_median(vals), unit, len(vals))
    out["session.start_s"] = (res["session_start_s"], "s", 1)
    out["exec.cache_entries"] = (
        float(max(p.cache_entries for p in res["passes"])), "count", len(res["passes"]))
    for name, v in res["counts"].items():
        out[name] = (v, spans.LAYER_UNITS[name], 1)
    out["trace.overhead_s"] = (
        _median([_pass_s(p) for p in traced]) - _median([_pass_s(p) for p in plain]), "s",
        len(traced) + len(plain))
    return out


def report(args, res: dict, metrics: dict) -> None:
    w = sys.stderr.write
    env = res["env"]
    w(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
      + ", ".join(f"{k}={v}" for k, v in env.items()) + "\n")
    for name, (v, unit, n) in metrics.items():
        w(f"  {name:34s} {v:14.4f} {unit:6s} n={n}\n")
    if args.trace:
        for p in res["passes"]:
            if not p.traced:
                continue
            selfs = ", ".join(f"{k} {v:.3f}s" for k, v in spans.self_times(p).items())
            w(f"  pass {p.index} self times: {selfs}\n")
            for c in p.coverage or ["coverage ok"]:
                w(f"  pass {p.index} {c}\n")
    by_step: dict[str, list[float]] = {}
    for p in res["passes"]:
        for st in p.steps:
            by_step.setdefault(st.name, []).append(st.wall)
    for name, walls in by_step.items():
        w(f"  step {name:32s} median {_median(walls):8.4f} s  "
          + " ".join(f"{x:.3f}" for x in walls) + "\n")
    w("  pass walls: " + " ".join(
        f"{p.wall:.3f}{'t' if p.traced else ''}" for p in res["passes"]) + " s\n")
    w("  host CPU busy / stolen per pass: " + " ".join(
        f"{p.busy_s:.2f}/{p.steal_s:.2f}" for p in res["passes"]) + " s\n")
    w(f"  setup: get_spark {res['session_start_s']:.2f} s, warm-up passes "
      + " ".join(f"{p.wall:.2f}" for p in res["warmup"])
      + f" s; output checks {res['check_s']:.2f} s\n")
    for p in res["warmup"]:
        w(f"  warm-up pass {p.index}: "
          + ", ".join(f"{s.name} {s.wall:.2f}" for s in p.steps) + " s\n")
    w(f"  outputs: {'all checks passed' if not res['failures'] else 'FAILED'}\n")
    for where, why in res["failures"].items():
        w(f"    {where}: {why}\n")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # Turn a termination request into SystemExit so the JVM is stopped
    # and the run directory removed on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "awsbatch_mapreduce_spark" / "session.py").is_file():
        sys.stderr.write(f"perfbench: no engine package under {ROOT}; "
                         "run from a checkout of the repository\n")
        return 2
    sys.path.insert(0, str(ROOT))

    host = _host()
    run_dir = ROOT / ".perfbench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _isolate(run_dir, host)
    try:
        bench = Bench(args, run_dir, host)
        res = bench.run()
        res.update(session_start_s=bench.session_start_s, failures=bench.failures,
                   attempted=bench.attempted, failed=len(bench.failures))
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:
            pass

    metrics = per_layer(res) if args.trace else end_to_end(res)
    report(args, res, metrics)
    keep = spans.LAYER_UNITS if args.trace else BOUNDED
    print(json.dumps({
        "correct": not res["failures"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in keep},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
