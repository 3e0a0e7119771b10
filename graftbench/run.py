#!/usr/bin/env python3
"""graft benchmark: one closed-loop client driving graft's public API on
local[<nproc>] through one of three workloads, with every output checked.

  python3 graftbench/run.py --workload fleet-merge|query-mix|ingest-release \
      --seed N --seconds S --trace 0|1

Builds graft from the enclosing checkout's sources on first use (sbt,
offline), runs the workload in one JVM inside a fresh temporary root
under graftbench/.run/, deletes that root, and prints one line per metric
followed by the JSON result line. --trace 0 reports the end-to-end
metrics, --trace 1 the per-layer ones (see WORKLOADS.md). The JVM's log
of the last run of each workload stays in graftbench/target/.
"""

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("fleet-merge", "query-mix", "ingest-release")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn768m"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


def build_inputs():
    """Every file the build reads: graft's main sources and resources,
    and the benchmark's own sources and build definition."""
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, _, files in sorted(os.walk(r)):
            for f in sorted(files):
                yield os.path.join(d, f)


def classpath():
    """The run classpath, rebuilding when any build input changed."""
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        fail("graft sources not found beside the benchmark (expected ../src/main/scala/graft)")
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    target = os.path.join(HERE, "target")
    cache = os.path.join(target, "graftbench-build.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c.get("stamp") == stamp and all(os.path.exists(p) for p in c["classpath"].split(os.pathsep)):
            return c["classpath"]
    os.makedirs(target, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(target, "build.log")
    rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                    "export Runtime/fullClasspathAsJars"],
                   HERE, log, time.time() + BUILD_LIMIT_S, env)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build timed out" if rc is None else f"build failed (sbt exit {rc}); log in {log}")
    cp = [ln.strip() for ln in lines if ln.strip().startswith("/") and ".jar" in ln]
    if not cp:
        fail(f"build printed no classpath; log in {log}")
    # class-data-sharing archive of every class the workloads' set-up
    # loads (JVM and Spark start-up dominate a short run otherwise)
    archive = os.path.join(target, "graftbench.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    with scratch_root("train") as root:
        run_jvm(cp[-1], "train", ["--seed", "0", "--seconds", "0", "--trace", "0"],
                root, time.time() + BUILD_LIMIT_S, [f"-XX:ArchiveClassesAtExit={archive}"])
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp[-1]}, fh)
    return cp[-1]


def run_child(cmd, cwd, log, deadline, env=None):
    """Runs `cmd` in its own process group with output to `log`; returns
    its exit code, or None when it overran `deadline` and was killed. The
    whole group is killed and reaped on any early exit."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


@contextlib.contextmanager
def scratch_root(prefix):
    """A fresh directory under graftbench/.run/, deleted afterwards."""
    runs = os.path.join(HERE, ".run")
    os.makedirs(runs, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{prefix}-", dir=runs)
    try:
        yield root
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run_jvm(cp, workload, args, root, deadline, jvm_flags=()):
    """Runs graftbench.Main on `workload`; returns its report (None when
    it writes none)."""
    report = os.path.join(root, "report.json")
    log = os.path.join(root, "jvm.log")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", *HEAP, *opens, *jvm_flags,
            f"-Djava.io.tmpdir={root}/tmp", f"-Dderby.system.home={root}/derby",
            "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main",
            "--workload", workload, *args,
            "--root", root, "--data", os.path.join(HERE, "data"),
            "--expected", os.path.join(HERE, "expected", "query_mix.tsv"),
            "--report", report])
    os.makedirs(os.path.join(root, "tmp"))
    rc = run_child(cmd, root, log, deadline)
    # the last run's log (one line per op) outlives the scratch root
    shutil.copyfile(log, os.path.join(HERE, "target", f"last-{workload}.log"))
    if rc != 0:
        with open(log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail("workload timed out" if rc is None else f"workload JVM exited with {rc}")
    if not os.path.exists(report):
        return None
    with open(report) as fh:
        return json.load(fh)


def print_summary(report, launch, trace):
    e2e, notes = metrics.end_to_end(report, launch)
    for k, u in metrics.END_TO_END.items():
        print(f"{k} = {e2e[k]:.6g} {u}")
    if "op_tail_s" in notes:
        print(f"op_tail_s = {notes['op_tail_s']:.6g} s"
              f"  (p{notes['op_tail_pct']:.1f} of n={notes['op_tail_n']} ops)")
    else:
        print(f"op_tail_s omitted: {sum(not o['traced'] for o in report['ops'])} ops, "
              f"more than {metrics.TAIL_BEYOND} needed")
    print(f"error_rate = {notes['error_rate']:.6g} share")
    if "release_s" in notes:
        print(f"release_s = {notes['release_s']:.6g} s")
    if trace:
        for k, v in metrics.per_layer(report).items():
            print(f"{k} = {v:.6g} {metrics.PER_LAYER[k]}")
    for o in report["ops"]:
        if not o["ok"]:
            print(f"FAILED {o['error']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = classpath()
    archive = os.path.join(HERE, "target", "graftbench.jsa")
    flags = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    launch = time.time()
    with scratch_root(args.workload) as root:
        report = run_jvm(cp, args.workload, ["--seed", str(args.seed), "--seconds",
                                             str(args.seconds), "--trace", str(args.trace)],
                         root, launch + RUN_LIMIT_S, flags)
    if report is None:
        fail("the workload wrote no report")
    print_summary(report, launch, args.trace)
    print(json.dumps(metrics.result(report, launch, args.trace)))


if __name__ == "__main__":
    main()
