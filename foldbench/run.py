#!/usr/bin/env python3
"""Consumer-loop benchmark: one workload, one seed, one result line.

    python3 foldbench/run.py --workload trickle --seed 1 --seconds 10 --trace 0

Builds the library and the driver from source on first use (sbt, offline),
generates the seeded envelope log (gen.py), runs the driver JVM on Spark
local[nproc], checks the committed store and every read answer against the
sequential interpreter (interp.py), and prints one JSON object as the last
stdout line: end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`. Exits non-zero when any check or operation fails.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

LAUNCH = os.path.join(HERE, "target", "launch")
BUILD_TIMEOUT_S = 840
# The driver JVM's limit. A run takes about a minute at 4 cores (the slowest
# seen, during CPU contention from other tenants of the host, 110 s) and must
# end within 180 s.
DRIVER_TIMEOUT_S = 165


def log(msg):
    print("[foldbench] " + msg, file=sys.stderr, flush=True)


def sources():
    """Every file the driver's build depends on, in a stable order."""
    picks = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        picks += [os.path.join(base, f) for f in sorted(os.listdir(base))
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, dirs, files in os.walk(base):
            dirs.sort()
            picks += [os.path.join(d, f) for f in sorted(files)]
    return picks


def build():
    """Compile with sbt unless the sources match the last build's stamp."""
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = os.path.join(LAUNCH, "stamp")
    want = h.hexdigest()
    if os.path.exists(stamp) and open(stamp).read() == want:
        return
    log("building (sbt launch) ...")
    os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
    with open(os.path.join(HERE, "target", "build.log"), "w") as out:
        rc = run_child(["sbt", "-batch", "-Dsbt.server.forcestart=false", "launch"],
                       HERE, out, BUILD_TIMEOUT_S)
    if rc != 0:
        raise SystemExit("build failed (exit %s), see foldbench/target/build.log" % rc)
    with open(stamp, "w") as f:
        f.write(want)


def run_child(cmd, cwd, out, timeout):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return "timeout"
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def drive(args, work):
    t = time.monotonic()
    lines, plan = gen.write(args.workload, args.seed, os.path.join(work, "log.jsonl"),
                            os.path.join(work, "plan.json"))
    gen_s = time.monotonic() - t
    with open(os.path.join(LAUNCH, "classpath.txt")) as f:
        cp = os.pathsep.join(l.strip() for l in f if l.strip())
    with open(os.path.join(LAUNCH, "jvmopts.txt")) as f:
        opts = [l.strip() for l in f if l.strip()]
    out = os.path.join(work, "out.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp] + opts +
           ["-cp", cp, "foldbench.Driver",
            "--log", os.path.join(work, "log.jsonl"), "--plan", os.path.join(work, "plan.json"),
            "--work", work, "--out", out, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(args.cores)])
    with open(os.path.join(work, "driver.log"), "w") as dl:
        rc = run_child(cmd, work, dl, DRIVER_TIMEOUT_S)
    if rc != 0 or not os.path.exists(out):
        tail = open(os.path.join(work, "driver.log")).read()[-3000:]
        raise SystemExit("driver failed (exit %s):\n%s" % (rc, tail))
    with open(out) as f:
        res = json.load(f)
    res["gen_s"] = gen_s
    return lines, plan, res


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    ap.add_argument("--plant-mismatch", action="store_true",
                    help="corrupt one expected row, to prove the check fails the run")
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("no library sources next to the benchmark (expected ../build.sbt and ../src/main/scala)")
        return 2
    build()
    work = os.path.join(HERE, ".work", "%s-%d-t%d" % (args.workload, args.seed, args.trace))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        lines, plan, res = drive(args, work)
        verdict = check.check(lines, plan, res, plant=args.plant_mismatch)
        for msg in verdict["problems"][:20]:
            log("mismatch: " + msg)
        for msg in res["failures"][:20]:
            log("failed: " + msg)
        if args.trace:
            metrics = layers.per_layer(res)
            layers.write_spans(res, os.path.join(HERE, ".work", "trace-%s-%d.json"
                                                 % (args.workload, args.seed)))
        else:
            metrics = end_to_end(res)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name, (value, unit, n) in metrics.items():
        log("%-40s %14.6f %-6s n=%s" % (name, value, unit, n))
    log("set-up: generate %.2f s, session %.2f s, seed fold %.2f s"
        % (res["gen_s"], res["session_s"], res["seed_s"]))
    attempted, failed = check.operations(res)
    log("state_mismatch_rows=%d error_rate=%.4f (%d/%d)" % (
        verdict["mismatches"], failed / attempted, failed, attempted))
    ok = verdict["mismatches"] == 0 and failed == 0
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()}}))
    return 0 if ok else 1


def end_to_end(res):
    trig = [t for t in res["triggers"] if t.get("ok")]
    secs = [t["secs"] for t in trig]
    reads = [r for r in res["reads"] if r.get("ok") and not r.get("warm")]

    def of(kind):
        return [r["secs"] for r in reads if r["kind"] == kind]

    lookups, cdc, scans = of("lookup"), of("cdc"), of("scan")
    for kind, xs in (("trigger", secs), ("lookup", lookups), ("cdc", cdc), ("scan", scans)):
        log("%s samples (s): %s" % (kind, " ".join("%.3f" % x for x in xs)))
    if not secs:
        return {}
    m = {
        "setup_s": (res["gen_s"] + res["session_s"] + res["seed_s"], "s", 1),
        "events_per_s": (sum(t["events"] for t in trig) / sum(secs), "1/s", len(secs)),
        "trigger_p50_s": (statistics.median(secs), "s", len(secs)),
    }
    if lookups:
        m["lookup_p50_s"] = (statistics.median(lookups), "s", len(lookups))
        m["lookup_p90_s"] = (p90(lookups), "s", len(lookups))
    if cdc:
        m["cdc_poll_p50_s"] = (statistics.median(cdc), "s", len(cdc))
    if scans:
        m["scan_p50_s"] = (statistics.median(scans), "s", len(scans))
    return m


def p90(xs):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


if __name__ == "__main__":
    sys.exit(main())
