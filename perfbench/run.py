#!/usr/bin/env python3
"""The repository benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and this
harness from source with sbt (offline) into ``.bench_build/``; later runs
reuse the build while the sources are unchanged. Inputs come from
``perfbench/gen.py`` and are cached per seed.

Workloads (one Spark session, ``local[<cpus>]`` with ``Bench``'s settings,
one client thread, closed loop):

  nightly_refresh  the nightly master ETL: ``Pipeline.runMaster`` into a
                   fresh work dir, then the five reference MVs and the
                   three person-dedup tiers built and written as parquet.
                   One pass is one operation.
  replay_cycles    MV freshness between refreshes: ``GoldMaintainer`` and
                   ``IndexMaintainer`` fed pre-written micro-batch drops;
                   one cycle (one fact batch, then one document batch) is
                   one operation. Old state versions are never removed.
  analyst_session  chatbot latency: NL questions through ``Planner.plan``
                   and ``QueryGuard.run`` (100-row cap); a share re-asks an
                   earlier question verbatim, the rest vary literals.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
``--trace 1`` alternates untraced and traced blocks of operations through
the window and carries the per-layer metrics. Lines before it print every metric by name and unit,
including the workload-specific names. Outputs are checked after the timed
window; a mismatch prints ``"correct": false`` and exits 1. The full record
of each run (and, traced, its spans with self times) is written to
``.bench_build/perfbench/results/``. ``--tiny`` (sf0.001 inputs) and
``--corrupt`` (damage one output before the checks) serve
``perfbench/selfcheck.py``.
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
sys.path.insert(0, HERE)

BUILD = os.path.join(".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
HEAP = "3g"
BUILD_TIMEOUT_S = 840

# Input scale per workload: (scale factor, ScaleCanary-style replicas).
SCALES = {
    "nightly_refresh": (0.001, 2),
    "replay_cycles": (0.1, 1),
    "analyst_session": (0.1, 1),
}
TINY = (0.001, 1)

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, cwd, timeout, out_path, env=None):
    """Runs ``cmd`` in its own process group with output to ``out_path``;
    kills the whole group on timeout and always waits for it to end."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def source_hash():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = ["build.sbt", os.path.join("project", "build.properties"),
             os.path.join("src", "main"), os.path.join("perfbench", "build.sbt"),
             os.path.join("perfbench", "project", "build.properties"),
             os.path.join("perfbench", "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def java_cmd(cp, work, main_args):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Only the heap's ceiling is fixed: the heap grows as the program
    # needs, so peak_rss_mb (VmHWM) follows the program's own memory use.
    return (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, "perfbench.Main"] + main_args)


def build():
    """Builds program and harness unless the sources are unchanged; returns
    (classpath, templates)."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_path = os.path.join(BUILD, "build.stamp")
    cp_path = os.path.join(BUILD, "classpath.txt")
    tpl_path = os.path.join(BUILD, "templates.json")
    stamp = source_hash()
    fresh = all(os.path.exists(p) for p in (stamp_path, cp_path, tpl_path))
    if fresh:
        with open(stamp_path) as f, open(cp_path) as g:
            fresh = f.read() == stamp and all(os.path.exists(e) for e in g.read().strip().split(":"))
    if not fresh:
        log("building program and harness with sbt (first run of this checkout)")
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        build_log = os.path.abspath(os.path.join(BUILD, "build.log"))
        rc = run_proc(["sbt", "--batch"] + opts + ["export perfbench/Runtime/fullClasspath"],
                      "perfbench", BUILD_TIMEOUT_S, build_log, env)
        with open(build_log) as f:
            lines = [l.strip() for l in f if l.strip()]
        if rc != 0 or not lines or "perfbench" not in lines[-1]:
            raise RuntimeError(f"sbt build failed (exit {rc}); see {build_log}")
        with open(cp_path, "w") as f:
            f.write(lines[-1])
        cp = lines[-1]
        rc = run_proc(java_cmd(cp, BUILD, ["templates", os.path.abspath(tpl_path)]),
                      ".", 120, os.path.join(BUILD, "templates.log"))
        if rc != 0:
            raise RuntimeError("template export failed")
        with open(stamp_path, "w") as f:
            f.write(stamp)
    with open(cp_path) as f:
        cp = f.read().strip()
    with open(tpl_path) as f:
        return cp, json.load(f)


def pct(xs, p):
    """Linear-interpolated percentile, as numpy's default."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def corrupt(workload, res):
    """Self-check hook: damages one output so the checks must fail."""
    import pyarrow.parquet as pq
    ex = res["extra"]
    if workload == "nightly_refresh":
        d = os.path.join(ex["out_dir"], "mv_profiles")
    elif workload == "replay_cycles":
        d = os.path.join(ex["final_dir"], "gold")
    else:
        with open(ex["answers"]) as f:
            a = json.load(f)
        a[0]["rows"] = a[0]["rows"][1:] + [["corrupted"] * len(a[0]["columns"])]
        with open(ex["answers"], "w") as f:
            json.dump(a, f)
        return
    t = pq.ParquetDataset(d).read()
    shutil.rmtree(d)
    os.makedirs(d)
    pq.write_table(t.slice(1), os.path.join(d, "part-0.parquet"))


def end_to_end(workload, res):
    """Every end-to-end metric as (name, value, unit): the ones
    BENCHMARK.json bounds and the workload's own names. A tail percentile
    is not bounded: a run holds tens of operations, fewer than a p90 needs
    to have ten samples beyond it. Nor is peak_rss_mb: G1 grows the heap
    in coarse steps at times that vary from run to run, so VmHWM spreads
    across seeds by more than the widest bound allowed (0.25)."""
    lat = [x for x, t in zip(res["latencies_ms"], res["traced"]) if not t]
    ex = res["extra"]
    attempted = max(1, res["attempted"])
    out = [("setup_s", res["setup_s"], "s"),
           ("op_p50_ms", statistics.median(lat), "ms"),
           ("peak_rss_mb", res["peak_rss_mb"], "MB"),
           ("op_p90_ms", pct(lat, 90), "ms"),
           ("ops_per_s", len(lat) / res["window_s"], "1/s")]
    if workload == "nightly_refresh":
        out += [("nightly_s", statistics.median(lat) / 1000.0, "s"),
                ("gold_mb", statistics.median(ex["pass_bytes"]) / 1048576.0, "MB")]
    elif workload == "replay_cycles":
        out += [("cycle_p50_ms", statistics.median(lat), "ms"),
                ("cycle_p90_ms", pct(lat, 90), "ms"),
                ("replay_rows_per_s", res["rows"] / (sum(res["latencies_ms"]) / 1000.0), "rows/s"),
                ("state_mb", ex["state.gold_mb"] + ex["state.index_mb"], "MB")]
    else:
        out += [("query_p50_ms", statistics.median(lat), "ms"),
                ("query_p95_ms", pct(lat, 95), "ms"),
                ("queries_per_s", len(lat) / res["window_s"], "1/s")]
    out += [("failed_frac", res["failed"] / attempted, "ratio"),
            ("samples", len(lat), "count"),
            ("host.steal_ms", res["steal_ms"], "ms")]
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="sf0.001 inputs (self-check)")
    ap.add_argument("--corrupt", action="store_true", help="damage one output before the checks (self-check)")
    a = ap.parse_args()

    if not (os.path.isdir(os.path.join("src", "main", "scala", "graft"))
            and os.path.isfile("build.sbt")):
        log("run from the root of a checkout of the program: src/main/scala/graft and build.sbt are missing")
        return 2
    import gen
    import checks

    t_start = time.time()
    cp, templates = build()
    sf, replicas = TINY if a.tiny else SCALES[a.workload]
    inputs = gen.generate(os.path.join(BUILD, "inputs"), a.workload, a.seed, sf, replicas,
                          templates["ql"])
    t_gen = time.time()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}" + ("-tiny" if a.tiny else "")
    work = os.path.abspath(os.path.join(BUILD, "work", f"{tag}-{os.getpid()}"))
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.abspath(os.path.join(results, f"{tag}.json"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rc = run_proc(java_cmd(cp, work, ["run", a.workload, os.path.abspath(inputs), work,
                                          str(a.seconds), str(a.trace), str(os.cpu_count() or 4), out]),
                      ".", RUN_TIMEOUT_S, os.path.join(results, f"{tag}.log"))
        if rc != 0:
            log(f"harness exited {rc}; see {results}/{tag}.log")
            return 1
        t_jvm = time.time()
        with open(out) as f:
            res = json.load(f)
        if a.corrupt:
            corrupt(a.workload, res)
        data = os.path.join(inputs, "data")
        if a.workload == "nightly_refresh":
            bad = checks.check_nightly(res, data, templates)
        elif a.workload == "replay_cycles":
            bad = checks.check_replay(res, inputs)
        else:
            bad = checks.check_analyst(res, data, res["extra"]["answers"])
        log(f"build+inputs {t_gen - t_start:.1f}s, harness {t_jvm - t_gen:.1f}s, "
            f"checks {time.time() - t_jvm:.1f}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for msg in res["errors"] + bad:
        log(f"FAIL {msg}")
    failed = res["failed"] + len(bad)
    attempted = res["attempted"] + len(bad)
    res["failed"], res["attempted"] = failed, attempted
    e2e = end_to_end(a.workload, res)
    with open(os.path.join(inputs, "inputs.json")) as f:
        props = json.load(f)
    for name, value, unit in e2e:
        print(f"{name} {value:.6g} {unit}")
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    bounded = {m["name"] for m in bench["end_to_end"]}
    per_layer = dict(res["per_layer"], **{"host.steal_ms": res["steal_ms"]}) if a.trace else {}
    for name in sorted(per_layer):
        print(f"{name} {per_layer[name]:.6g} {units[name]}")
    print("inputs " + json.dumps(props))
    if a.trace:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in per_layer.items()}
    else:
        metrics = {n: {"value": v, "unit": u} for n, v, u in e2e if n in bounded}
    res["end_to_end"] = {n: v for n, v, _ in e2e}
    res["check_failures"] = bad
    with open(out, "w") as f:
        json.dump(res, f)
    print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if not bad and failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
