"""End-to-end benchmark of the CDC pipeline: bus -> enrich/flatten/route
-> LWW warehouse upsert and per-video view -> warehouse reads.

    python3 cdcbench/run.py --workload cdc_backlog --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the program and the
benchmark's JVM driver (see build.py). Each run generates its inputs from
``--seed`` (gen.py), runs one workload in a fresh JVM, checks the
program's outputs against batch oracles, and prints every metric by name
and unit: those BENCHMARK.json gates first, then the ones it only
reports; the last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and the gated ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the workload traced and reports
the per-layer metrics, the tracing overhead and the layer with the most
self time. metrics_map.json says which end-to-end
metric each layer metric should move, and on which workload.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import analyze  # noqa: E402
import build  # noqa: E402
import gen  # noqa: E402

# Input sizes per workload. ``events`` counts the envelopes after the
# preload. The steady generator offers ``rate`` events/s, well below the
# drain capacity, through its 3 s warm-up and the window (5 s spare).
WORKLOADS = {
    "cdc_backlog": {"preload": 4000, "events": 24000},
    "warehouse_reads": {"preload": 4000, "events": 0},
    "cdc_steady": {"preload": 4000, "rate": 200.0},
}
CORES = len(os.sched_getaffinity(0))  # local[nproc]
PRELOAD_REPS = 2
# A fixed, pre-touched heap: peak RSS then moves with native memory
# (metaspace, code cache, thread stacks, off-heap buffers), not with how
# far the collector happened to grow the heap before its first cycles.
HEAP = ["-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch"]
DEADLINE_S = 170.0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

_child = None


def _kill_child(*signum_frame):
    """Kill the running JVM's process group; exit when called as the
    SIGTERM handler."""
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    if signum_frame:
        sys.exit(1)


class RunError(Exception):
    pass


def run_jvm(cp, work, tag, args, deadline):
    """One workload in a fresh JVM; returns its raw-measurement dict."""
    global _child
    out = os.path.join(work, tag + ".json")
    tmp = os.path.join(work, tag + "-tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # no hsperfdata file: the JVM writes nothing outside the work dir
    cmd += HEAP + ["-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp, "-cp", cp, "cdcbench.Main",
            "--work", os.path.join(work, tag), "--out", out] + args
    log_path = os.path.join(work, tag + ".log")
    with open(log_path, "w") as log:
        _child = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                  start_new_session=True)
        try:
            _child.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            _kill_child()
            raise RunError("%s JVM exceeded the time limit" % tag)
        finally:
            _kill_child()
    if _child.returncode != 0 or not os.path.isfile(out):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RunError("%s JVM failed (exit %s):\n%s" % (tag, _child.returncode, tail))
    with open(out) as f:
        return json.load(f)


def declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b["end_to_end"], b["per_layer"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _kill_child)
    deadline = time.time() + DEADLINE_S

    try:
        cp = build.classpath()
        e2e, layers = declared_metrics()
    except (build.BuildError, OSError, ValueError, KeyError) as e:
        print("cdcbench: %s" % e, file=sys.stderr)
        return 2

    spec = WORKLOADS[a.workload]
    work = os.path.join(HERE, ".work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    os.makedirs(work)
    try:
        events = os.path.join(work, "events.jsonl")
        n = spec["events"] if "events" in spec else int(spec["rate"] * (a.seconds + 8))
        gen.write(events, a.seed, spec["preload"] + n)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--cores", str(CORES),
                "--events", events, "--preload", str(spec["preload"]),
                "--rate", str(spec.get("rate", 0.0))]
        if a.trace == 0:
            raw = run_jvm(cp, work, "run",
                          args + ["--trace", "0", "--preload-reps", str(PRELOAD_REPS)], deadline)
            values = analyze.end_to_end(raw)
            declared = e2e
            info = {}
        else:
            extra = ["--single-core", "1"] if a.workload == "cdc_backlog" else []
            raw = run_jvm(cp, work, "traced",
                          args + ["--trace", "1", "--preload-reps", "1"] + extra, deadline)
            values, bottleneck = analyze.per_layer(raw)
            declared = layers
            info = {"bottleneck_layer": bottleneck,
                    "self_time_sum_s": values["trace.unattributed_s"] + sum(
                        v for k, v in values.items() if k.startswith("self."))}
    except RunError as e:
        print("cdcbench: %s" % e, file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    print("# cdcbench workload=%s seed=%d seconds=%g trace=%d"
          % (a.workload, a.seed, a.seconds, a.trace))
    for d in declared:
        v = float(values.pop(d["name"]))
        metrics[d["name"]] = {"value": v, "unit": d["unit"]}
        print("%-36s %16.6f %s" % (d["name"], v, d["unit"]))
    for k, v in values.items():
        print("# reported, not gated: %s %.6f %s" % (k, v, analyze.UNITS[k]))
    info.update(analyze.details(raw))
    for k, v in info.items():
        print("# %s: %s" % (k, json.dumps(v)))
    ok = analyze.correct(raw)
    print(json.dumps({"correct": ok, "attempted": int(raw["attempted"]),
                      "failed": int(raw["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
