#!/usr/bin/env python3
"""Run one benchmark workload and print its figures.

    python3 perfbench/run.py --workload detect --seed 1 --seconds 5 --trace 0

Run from the repository root.  The run:

1. sets up ``SETUP_ROUNDS`` times — build the Spark session, write the
   seeded inputs — and reports the median as ``setup_s``; then runs the
   workload's untimed ``prepare`` (warm-up, and the served model's fit);
2. repeats the workload's operation, closed loop, until ``--seconds``
   have passed (at least once), timing each one, with the CPU probe
   from ``bench.py`` beside it and the process tree's resident-memory
   high-water mark taken over it;
3. checks the last operation's outputs (untimed);
4. prints one line per figure and check, then, as the last line, one
   JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

With ``--trace 0`` the metrics are the end-to-end figures.  With
``--trace 1`` the event log is on, every other timed operation (the
second, fourth, ...) runs inside spans, at least three operations are
timed, and the metrics are the per-layer figures of the traced
operations; the spans and figures are also written under
``.perfbench/out/``.  Everything the run writes stays under
``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_ROUNDS = 3

E2E = {
    "setup_s": "s",
    "batch_s": "s",
    "step_p50_ms": "ms",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def per_layer_names() -> list[tuple[str, str]]:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in bench["per_layer"]]


def descendants() -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    kids.setdefault(int(f.read().rsplit(")", 1)[1].split()[1]), []).append(int(d))
            except (OSError, ValueError, IndexError):
                continue
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def reset_peak_rss() -> None:
    """Restart the resident-memory high-water mark of this process and
    every process it started (the JVM and the Python workers)."""
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def peak_rss_mb() -> float:
    """Sum of the high-water marks since :func:`reset_peak_rss`."""
    kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += int(f.read().split("VmHWM:")[1].split()[0])
        except (OSError, IndexError, ValueError):
            continue
    return kb / 1024.0


def stop_jvm() -> None:
    """Shut the py4j gateway and its JVM down, then wait until every
    process this run started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    pids = descendants()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.terminate()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    for sig in (15, 9):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
            for p in pids:
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            time.sleep(0.1)
        deadline = time.time() + 10


class Ctx:
    def __init__(self, seed: int, work: Path):
        self.seed, self.work = seed, work
        self.spark = None
        self.tracer = None
        self.layer_figs: dict[str, float] = {}

    def layer(self, name: str, value: float) -> None:
        """Record a set-up layer figure (last round wins)."""
        self.layer_figs[name] = value


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "web_attack_detection_spark").is_dir() or not (ROOT / "bench.py").is_file():
        print("perfbench: run from a checkout of the repository (engine package not found)",
              file=sys.stderr)
        return 2

    work = ROOT / ".perfbench" / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = ROOT / ".perfbench" / "out"
    for d in (work / "tmp", work / "local", out_dir):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM started (launcher and driver): temp files in the work
    # directory, no perf-data file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYTHONPATH"] = os.pathsep.join([str(ROOT), str(HERE)])
    sys.path[:0] = [str(HERE), str(ROOT)]
    try:
        return run(args, work, out_dir)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: Path, out_dir: Path) -> int:
    import tempfile

    tempfile.tempdir = str(work / "tmp")
    from bench import cpu_probe_ms
    from stats import error_rate, median, tail
    from spans import Tracer, read_event_log
    from workloads import WORKLOADS

    from web_attack_detection_spark.session import build_session

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    ctx = Ctx(args.seed, work)
    wl = cls(ctx)
    log_dir = work / "eventlog"
    log_dir.mkdir()
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "200",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        }

    # -- set-up rounds --------------------------------------------------------
    setup_s, inputs = [], {}
    for r in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        if ctx.spark is not None:
            ctx.spark.stop()
        tb = time.perf_counter()
        ctx.spark = build_session(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        ctx.layer_figs.setdefault("session.build_s", time.perf_counter() - tb)
        rd = work / f"round{r}"
        inputs = wl.generate(rd)
        setup_s.append(time.perf_counter() - t0)
    for r in range(SETUP_ROUNDS - 1):
        shutil.rmtree(work / f"round{r}", ignore_errors=True)
    spark = ctx.spark
    ctx.tracer = tracer = Tracer(spark.sparkContext, enabled=False)
    t0 = time.perf_counter()
    wl.prepare()
    ctx.layer("setup.prepare_s", time.perf_counter() - t0)

    # -- timed operations -------------------------------------------------------
    if args.trace:
        wl.patch(tracer)
    ops, outcomes, states = [], [], []
    t_end = time.perf_counter() + args.seconds
    i = 0
    while i < (3 if args.trace else 1) or time.perf_counter() < t_end:
        traced = bool(args.trace) and i % 2 == 1
        probe = cpu_probe_ms()
        tracer.enabled = traced
        reset_peak_rss()
        t0 = time.perf_counter()
        try:
            with tracer.span("op", op=i) as root:
                res = wl.op(i)
            res["wall_s"] = time.perf_counter() - t0
            res["probe_ms"], res["traced"], res["rss_mb"] = probe, traced, peak_rss_mb()
            ops.append(res)
            outcomes.append(True)
            if traced:
                states.append((root["id"], wl.last))
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc()
            outcomes.append(False)
        finally:
            tracer.enabled = False
        wl.cleanup()
        i += 1
        if len(outcomes) >= 3 and not any(outcomes):
            break

    # -- checks (untimed) -------------------------------------------------------
    t_check = time.perf_counter()
    checks = []
    if ops:
        try:
            checks = wl.check()
        except Exception as e:  # noqa: BLE001
            traceback.print_exc()
            checks = [("checks", False, f"{type(e).__name__}: {e}")]
    tracer.unpatch()
    counts = {}
    if args.trace and ops:
        counts = wl.counts()
    ctx.layer("checks_s", time.perf_counter() - t_check)
    attempted, failed, err = error_rate(outcomes + [ok for _, ok, _ in checks])

    untraced = [o for o in ops if not o["traced"]]
    base = untraced or ops
    steps = [s for o in base for s in o["steps_ms"]]
    e2e = {
        "setup_s": median(setup_s),
        "batch_s": median(o["batch_s"] for o in base),
        "step_p50_ms": median(steps),
        "items_per_s": sum(o["items"] for o in base) / max(sum(o["items_s"] for o in base), 1e-9),
        "peak_rss_mb": max((o["rss_mb"] for o in base), default=0.0),
    }
    tp, tv = tail(steps)

    # -- report -------------------------------------------------------------------
    print(f"workload {args.workload} seed {args.seed} inputs {json.dumps(inputs)}")
    for name, value in e2e.items():
        print(f"metric {name} = {value:.4f} {E2E[name]}")
    for alias, name in wl.aliases.items():
        print(f"metric {alias} = {e2e[name]:.4f} {E2E[name]}")
    print(f"metric step_tail = {'n/a' if tp is None else f'p{tp} {tv:.1f} ms'} over {len(steps)} steps")
    print(f"metric error_rate = {err:.4f} ratio ({failed}/{attempted})")
    probes = [o["probe_ms"] for o in ops]
    print(f"host cpu_probe_ms median {median(probes):.1f} max {max(probes, default=0):.1f}"
          f" over {len(probes)} ops; setup rounds {[round(s, 2) for s in setup_s]}")
    print("phases " + " ".join(f"{k} {v:.2f}" for k, v in sorted(ctx.layer_figs.items())))
    print(f"ops {len(ops)} timed ({sum(o['traced'] for o in ops)} traced), "
          f"op wall {[round(o['wall_s'], 2) for o in ops]}")
    for name, ok, detail in checks:
        print(f"check {name}: {'PASS' if ok else 'FAIL'} ({detail})")

    metrics = {name: {"value": round(v, 6), "unit": E2E[name]} for name, v in e2e.items()}
    if args.trace:
        spans_path = out_dir / f"{args.workload}-seed{args.seed}-spans.jsonl"
        tracer.write(str(spans_path))
        spark.stop()
        ctx.spark = None
        jobs = read_event_log(str(log_dir))
        layers = layer_figures(wl, ctx, states, jobs, tracer, ops, counts, probes)
        names = per_layer_names()
        metrics = {n: {"value": round(float(layers.get(n, 0.0)), 6), "unit": u} for n, u in names}
        extra = sorted(set(layers) - {n for n, _ in names})
        (out_dir / f"{args.workload}-seed{args.seed}-layers.json").write_text(
            json.dumps({"layers": layers, "not_in_benchmark": extra}, indent=1)
        )
        for n, u in names:
            print(f"layer {n} = {metrics[n]['value']} {u}")
    else:
        spark.stop()
    print(json.dumps({
        "correct": bool(ops) and all(ok for _, ok, _ in checks),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def layer_figures(wl, ctx, states, jobs, tracer, ops, counts, probes) -> dict[str, float]:
    from stats import median
    from spans import TraceView, engine_totals

    per_op: list[dict[str, float]] = []
    for root_id, state in states:
        t = TraceView(tracer.spans, jobs, root_id)
        wl.last = state
        figs = wl.layers(t)
        eng = engine_totals(t.all_jobs())
        figs |= {f"engine.{k}": v for k, v in eng.items()}
        figs["engine.driver_gap_s"] = t.gap_ms(t.root) / 1000.0
        wall = t.root["end"] - t.root["start"]
        figs["trace.unattributed_pct"] = 100.0 * t.self_ms[t.root["id"]] / wall
        figs["trace.spans"] = len(t.spans)
        per_op.append(figs)
    out = {k: median(f[k] for f in per_op) for k in per_op[0]} if per_op else {}
    out |= ctx.layer_figs | counts
    # the first operation runs colder than the rest: compare after it
    walls_u = [o["wall_s"] for o in ops[1:] if not o["traced"]]
    walls_t = [o["wall_s"] for o in ops if o["traced"]]
    if walls_u and walls_t:
        out["trace_overhead_pct"] = 100.0 * (median(walls_t) - median(walls_u)) / median(walls_u)
    out["host.cpu_probe_ms"] = median(probes)
    return out


if __name__ == "__main__":
    sys.exit(main())
