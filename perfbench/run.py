#!/usr/bin/env python3
"""graft's benchmark: one seeded, closed-loop, single-client workload
driven through the engine's public functions on local[N], measured end to
end (untraced) or per layer (traced), with every output checked.

Usage (from the repository root):
  python3 perfbench/run.py --workload analytics|kv_churn|stream_cdc \
      --seed N --seconds S --trace 0|1 [--smoke]

The first run in a checkout builds the engine and the harness with sbt
(offline). Each run starts from an empty working directory under
perfbench/work/, removed at the end. The analytics inputs are the
engine's test corpus at sf0.01 (sf0.001 for --smoke), in perfbench/data/. The full record of a run (metrics
with sample counts, environment, checks, spans with self times) goes to
perfbench/results/; the last line of standard output is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ("analytics", "kv_churn", "stream_cdc")
SCALES = {False: "sf0.01", True: "sf0.001"}   # analytics data: full, smoke
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# Spark on JDK 17 outside spark-submit (the engine's build passes the same).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Everything the build reads: the engine's and the harness's sources
    and build definitions."""
    files = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the harness (once per checkout and source
    state) and return the runtime classpath."""
    digest = source_digest()
    stamp = os.path.join(HERE, "target", "perfbench-build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("digest") == digest and all(
                os.path.exists(p) for p in s["classpath"].split(os.pathsep)):
            return s["classpath"], digest
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_TIMEOUT_S)
    cp = [line.strip() for line in p.stdout.splitlines()
          if "perfbench" in line and os.pathsep in line and not line.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit(f"build failed (sbt exit {p.returncode})")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp[-1]}, fh)
    log(f"built in {time.time() - t0:.0f} s")
    return cp[-1], digest


def java_cmd(classpath, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    return ["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main"]


def run_jvm(cmd, work, timeout=JVM_TIMEOUT_S):
    """Run the harness JVM in `work`, its output into work/jvm.log; on
    failure, echo the log's tail and exit non-zero."""
    log_path = os.path.join(work, "jvm.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    with open(log_path, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                             stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"harness failed ({rc})")
    with open(log_path, errors="replace") as fh:
        for line in fh:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)


def git_sha():
    try:
        p = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except OSError:
        return None


def load_fingerprints(smoke):
    with open(os.path.join(HERE, "oracle_fingerprints.json")) as fh:
        return json.load(fh)["scales"][SCALES[smoke]]


def check_fingerprints(raw, smoke):
    """Mark every analytics op whose result fingerprint differs from the
    DuckDB oracle's as wrong."""
    want = load_fingerprints(smoke)
    for o in raw["warmup"] + raw["ops"]:
        fp = o.get("fingerprint")
        if fp is not None and o["ok"] and not stats.fingerprints_match(fp, want.get(o["name"])):
            o["ok"] = False
            o["detail"] = f"fingerprint {fp} != oracle {want.get(o['name'])}"
            log(f"op {o['id']} {o['name']} wrong result: {o['detail']}")


def summarize(raw, trace, smoke):
    """The result line and the full record of one run."""
    if raw["env"]["workload"] == "analytics":
        check_fingerprints(raw, smoke)
    all_ops = raw["warmup"] + raw["ops"]
    attempted, failed, _ = stats.account(all_ops)
    checks_ok = all(c["ok"] for c in raw["end_checks"])
    if trace:
        untraced = [o for o in raw["ops"] if o["phase"] == "untraced"]
        traced = [o for o in raw["ops"] if o["phase"] == "traced"]
        metrics = stats.per_layer(raw, untraced, traced)
    else:
        metrics = stats.end_to_end(raw, raw["ops"])
    usable = all(v is not None for v, _, _ in metrics.values())
    correct = failed == 0 and checks_ok and usable
    result = {
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v if v is not None else 0.0, "unit": u}
                    for k, (v, u, _) in metrics.items()},
    }
    record = dict(result, samples={k: n for k, (_, _, n) in metrics.items()},
                  env=raw["env"], setup_s=raw["setup_s"],
                  setup_parts_s=raw["setup_parts_s"], phase_s=raw["phase_s"],
                  end_checks=raw["end_checks"],
                  ops=[{k: o[k] for k in ("id", "name", "phase", "latency_s", "ok", "detail", "extra")}
                       for o in all_ops])
    if trace:
        selfs = stats.self_times(raw["trace"]["spans"])
        record["spans"] = [{k: s[k] for k in ("id", "name", "parent", "op", "start_ms", "end_ms")}
                           | {"self_ms": selfs[s["id"]]} for s in raw["trace"]["spans"]]
    return result, record


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (analytics at sf0.001), for the self-tests")
    a = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("the engine's sources are not next to perfbench/: "
                         "run from a full checkout of the repository")
    classpath, digest = build()
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(HERE, "data", SCALES[a.smoke])
        out = os.path.join(work, "raw.json")
        cmd = java_cmd(classpath, work) + [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--out", out]
        run_jvm(cmd + (["--smoke"] if a.smoke else []), work)
        with open(out) as fh:
            raw = json.load(fh)
        raw["env"].update(git_sha=git_sha(), source_sha256=digest, heap=f"Xms=Xmx={HEAP}",
                          data_scale=SCALES[a.smoke] if a.workload == "analytics" else None)
        result, record = summarize(raw, bool(a.trace), a.smoke)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}{'-smoke' if a.smoke else ''}.json"
    with open(os.path.join(results, name), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
