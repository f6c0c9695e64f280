#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the harness package
(perfbench/build.sbt, which compiles the repository's own sources); later
runs reuse the build while the sources are unchanged. The run generates its
inputs from --seed, runs the workload in its own JVM for --seconds, checks
the outputs, prints a report and, as the last line of stdout, one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1.
`--selftest` runs the harness self-tests instead. See README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
sys.path.insert(0, str(BENCH))

import mixes  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("olap_mix", "cdc_ingest", "curation_refresh")
# input scale per workload; see README.md ("Sizes") for why these sizes
OLAP_SF = 0.01
# olap_mix reads one fixed data set, as the sf fixture sets are; its --seed
# draws the op order. Per-seed tables moved single entries' cost by a third
# (q65's recursion depth), on top of the run-to-run drift.
OLAP_DATA_SEED = 42
CURATION_SF = 0.01
# curation_refresh's tables and base corpus are one fixed data set too;
# --seed draws the corpus versions (row subsets of it) and the op order.
# Per-seed corpora moved single entries' cost on top of the run-to-run
# drift, which moved op_p50_s.
CURATION_DATA_SEED = 42
CURATION_DOCS, CURATION_VECS = 200, 100
CURATION_VERSIONS = 2 * len(mixes.CURATION)
JVM_HEAP = "3g"
# untimed JVM warm-up in the first setup (not part of setup_s), in seconds:
# without one an olap_mix round took 19-21 s on a 4-vCPU host, with 6 s of
# it 15-17.5 s, and cdc_ingest's readers completed a quarter fewer ops.
# cdc_ingest's lasts two 4 s trigger intervals, so that it always applies
# two batches. curation_refresh's runs each entry of the mix once (about
# 14 s); 30 s only bounds it.
WARMUP_S = {"olap_mix": 2, "curation_refresh": 30, "cdc_ingest": 8}
# olap_mix and curation_refresh run one round per ROUND_S of --seconds: a
# fixed amount of work, where stopping at a deadline made the round count
# (and every metric) jump with host speed. A round took 9-15 s
# (curation_refresh) or 8-28 s (olap_mix) on a 4-vCPU host.
ROUND_S = 10
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# the end-to-end metrics BENCHMARK.json gates, in its order
E2E = [("setup_s", "s"), ("op_p50_s", "s"), ("goodput_ops_per_s", "1/s"),
       ("live_heap_mb", "MB")]
EXT_MODULES = {"d": "dedup", "s": "similarity", "t": "text", "m": "multimodal", "p": "curation"}
PER_LAYER_UNITS = {
    "build.ms": "ms/op", "build.eager_jobs": "count/op",
    "catalyst.analysis_ms": "ms/op", "catalyst.optimization_ms": "ms/op",
    "catalyst.planning_ms": "ms/op",
    "exec.ms": "ms/op", "exec.jobs": "count/op", "exec.stages": "count/op",
    "exec.tasks": "count/op", "exec.task_run_ms": "ms/op", "exec.task_cpu_ms": "ms/op",
    "exec.scheduler_delay_ms": "ms/op", "exec.core_busy_frac": "fraction",
    "exec.shuffle_write_bytes": "B/op", "exec.shuffle_read_bytes": "B/op",
    "exec.shuffle_fetch_wait_ms": "ms/op", "exec.spill_bytes": "B/op",
    "exec.input_bytes": "B/op", "exec.gc_ms": "ms/op", "exec.stage_skew": "ratio",
    "stream.batches": "count", "stream.trigger_ms_p50": "ms",
    "stream.batch_events_p50": "count", "stream.offset_commit_ms": "ms/batch",
    "stream.backlog_max_events": "count", "stream.backlog_end_events": "count",
    "cdc.ingest_ms": "ms/batch", "cdc.events": "count", "cdc.dlq_rows": "count",
    "cdc.freshness_p50_s": "s", "cdc.freshness_p90_s": "s",
    "sources.append_ms": "ms/batch", "sources.merge_ms": "ms/batch",
    "sources.scan_ms": "ms/op", "sources.commits": "count",
    "sources.commit_failures": "count", "sources.bytes_written": "B",
    "sources.write_amp": "ratio", "sources.space_amp": "ratio",
    "sources.table_files_end": "count", "sources.table_versions_end": "count",
    "sources.manifest_bytes_end": "B", "sources.merge_ms_slope": "ms/batch",
    **{f"ext.{m}_ms": "ms/op" for m in EXT_MODULES.values()},
    **{f"ext.{m}_ms.ops": "count" for m in EXT_MODULES.values()},
    **{f"ext.{m}_ms.failed": "count" for m in EXT_MODULES.values()},
    "ops.failed_frac": "fraction",
    "jvm.gc_ms": "ms", "jvm.heap_peak_mb": "MB",
    "gen.late_ms_p99": "ms", "bench.check_s": "s", "bench.trace_overhead_frac": "fraction",
    "host.steal_pct": "%", "host.io_ms_per_s": "ms/s", "host.loadavg": "load",
}


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _sources_digest():
    h = hashlib.sha256(b"fullClasspathAsJars")
    roots = [REPO / "build.sbt", REPO / "project" / "build.properties", REPO / "src" / "main",
             BENCH / "build.sbt", BENCH / "project" / "build.properties", BENCH / "src"]
    for r in roots:
        files = sorted(p for p in r.rglob("*") if p.is_file()) if r.is_dir() else [r]
        for p in files:
            h.update(str(p.relative_to(REPO)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile and package the harness and the repository; return the
    runtime classpath, all jars (class-data sharing archives only jars)."""
    if not (REPO / "build.sbt").is_file() or not (REPO / "src" / "main" / "scala").is_dir():
        fail(f"no graft sources next to {BENCH.name}/ (expected build.sbt and src/main/scala "
             "in the checkout root)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    out = REPO / ".bench_build"
    out.mkdir(exist_ok=True)
    stamp, cp_file = out / "perfbench.stamp", out / "perfbench.classpath"
    digest = _sources_digest()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={out / 'tmp'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    (out / "tmp").mkdir(exist_ok=True)
    print("[perfbench] building (first run in this checkout)", file=sys.stderr)
    for old in out.glob("cds-*.jsa"):
        old.unlink()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspathAsJars"],
                       cwd=BENCH, env=env, capture_output=True, text=True, timeout=800)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        errors = [l for l in (r.stdout + r.stderr).splitlines() if l.startswith("[error]")]
        sys.stderr.write("\n".join(errors[:40] or [(r.stdout + r.stderr)[-3000:]]) + "\n")
        fail("build failed", 1)
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    return lines[-1].strip()


# ---------------------------------------------------------------- run

def plan(workload, seed, seconds):
    """The seeded op sequence: whole rounds, one per ROUND_S of --seconds
    (at least one), so that every run of one length does the same work. An
    olap_mix round is a seeded permutation of its entries; a
    curation_refresh round is two, so that every entry runs twice in a
    round. Each op carries the corpus version it reads: curation_refresh
    swaps the next version in before every op, so the k-th op of a round
    reads version k."""
    import numpy as np
    rng = np.random.default_rng([seed, 4])
    rounds = max(1, round(seconds / ROUND_S))
    if workload == "olap_mix":
        return [(mixes.OLAP[i], 0) for _ in range(rounds) for i in rng.permutation(len(mixes.OLAP))]
    n = len(mixes.CURATION)
    return [(mixes.CURATION[i], k) for _ in range(rounds) for k, i in
            enumerate(np.concatenate([rng.permutation(n), rng.permutation(n)]))]


def make_inputs(workload, seed, seconds, work):
    import gen
    import numpy as np
    if workload == "olap_mix":
        gen.write_inputs(work / "data", OLAP_SF, OLAP_DATA_SEED, 500, 500)
    elif workload == "curation_refresh":
        gen.write_inputs(work / "data", CURATION_SF, CURATION_DATA_SEED, CURATION_DOCS,
                         CURATION_VECS, versions=(work / "versions", CURATION_VERSIONS),
                         version_seed=seed)
    if workload != "cdc_ingest":
        (work / "plan.tsv").write_text(
            "".join(f"{n}\t{v}\n" for n, v in plan(workload, seed, seconds)))
        warm = mixes.OLAP_WARMUP if workload == "olap_mix" else mixes.CURATION_WARMUP
        rng = np.random.default_rng([seed, 5])
        (work / "warmup.tsv").write_text(
            "".join(f"{warm[i]}\t0\n" for i in rng.permutation(len(warm))))


def run_jvm(cp, a, work, extra=(), then=lambda res: None):
    """Run the workload process and return (result.json, then(result.json)).
    `then` runs as soon as the process has written its result, while the
    process stops its session and exits."""
    # Class-data sharing: the first run of a workload after a build records
    # the classes it loaded, later runs map them. Loading Spark's classes is
    # most of a JVM's cold start; sharing cut the first setup from 12 to
    # 5-7 s. It changes no timed work: setups 2-3 and the timed phase run
    # after the classes are loaded.
    cds = REPO / ".bench_build" / f"cds-{a.workload}.jsa"
    cmd = ["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if all(p.endswith(".jar") for p in cp.split(os.pathsep)):
        cmd.append(f"-XX:SharedArchiveFile={cds}" if cds.is_file()
                   else f"-XX:ArchiveClassesAtExit={cds}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(work),
            "--warmup", str(WARMUP_S[a.workload]), *extra]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    result = work / "result.json"
    res = out = None
    deadline = time.monotonic() + JVM_TIMEOUT_S + a.seconds
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            while not result.is_file() and p.poll() is None and time.monotonic() < deadline:
                time.sleep(0.05)
            if result.is_file():
                res = json.loads(result.read_text())
                out = then(res)
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or res is None:
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        sys.stderr.write(tail + "\n")
        fail(f"workload process ended with {rc}", 1)
    return res, out


# ---------------------------------------------------------------- metrics

def pct(values, q):
    try:
        return stats.percentile(values, q)
    except stats.TooFewSamples:
        return None, len(values)


def freshness(c):
    """Per-event (due, freshness) in seconds since t0, and the per-batch
    backlog, from the cdc records: event j is due at t0 + (j+1)/rate and
    fresh when its batch's MERGE commit returned."""
    t0, rate = c["t0_ns"], c["rate"]
    chunk_by_off = {ch[5]: ch for ch in c["chunks"]}
    batch_end = {b["id"]: b["end_ns"] for b in c["batches"] if b["error"] is None}
    fresh, backlog = [], []
    processed = 0
    for p in c["progress"]:
        lo, hi = p["start"], p["end"]
        n_in = 0
        for off in range(lo + 1, hi + 1):
            ch = chunk_by_off.get(off)
            if ch is None or p["id"] not in batch_end:
                continue
            for j in range(ch[1], ch[2]):
                due = (j + 1) / rate
                fresh.append((due, (batch_end[p["id"]] - t0) / 1e9 - due))
            n_in = max(n_in, ch[2])
        processed = max(processed, n_in)
        landed = sum(ch[2] - ch[1] for ch in c["chunks"] if ch[4] <= p["at_ns"])
        backlog.append(max(0, landed - processed))
    return fresh, backlog


def summarize(a, res, verdict_of_op, problems, check_s, digest):
    """(attempted, failed, e2e metrics, per-layer metrics, report lines)."""
    ops = res["ops"]
    ok = [o for o in ops if not o["error"] and verdict_of_op.get(o["id"]) is None]
    failed_ops = [o for o in ops if o not in ok]
    batches = res.get("cdc", {}).get("batches", [])
    failed_batches = [b for b in batches if b["error"]]
    attempted = len(ops) + len(batches)
    failed = len(failed_ops) + len(failed_batches)
    # a failed op gives no latency sample but ranks slower than every success
    lat = [o["lat_s"] for o in ok] + [math.inf] * len(failed_ops)
    p50, n50 = pct(lat, 0.5)
    p90, n90 = pct(lat, 0.9)
    p50, p90 = (None if x == math.inf else x for x in (p50, p90))
    # the first setup is timed from JVM start and is the coldest; setup_s
    # is the median of the ones after it
    setup = stats.median(res["setup_s"][1:] or res["setup_s"])
    # cdc's timed phase ends with draining the stream, when no reader runs
    window = res["cdc"]["reader_s"] if "cdc" in res else res["measure_s"]
    e2e = {"setup_s": setup, "op_p50_s": p50,
           "goodput_ops_per_s": len(ok) / window, "live_heap_mb": res["live_heap_mb"]}
    layers = {k: 0.0 for k in PER_LAYER_UNITS}
    layers.update(res.get("layers", {}))
    for prefix, mod in EXT_MODULES.items():
        mine = [o for o in ops if a.workload == "curation_refresh" and o["name"].startswith(prefix)]
        layers[f"ext.{mod}_ms"] = (sum(o["lat_s"] for o in mine) * 1000 / len(mine)) if mine else 0.0
        layers[f"ext.{mod}_ms.ops"] = len(mine)
        layers[f"ext.{mod}_ms.failed"] = sum(1 for o in mine if o in failed_ops)
    layers["ops.failed_frac"] = failed / attempted if attempted else 0.0
    layers["bench.check_s"] = check_s
    for k, v in res["host"].items():
        layers[f"host.{k}"] = v
    extra = []
    if "cdc" in res:
        c = res["cdc"]
        fresh, backlog = freshness(c)
        fresh = [f for _, f in fresh]
        f50, nf = pct(fresh, 0.5)
        f90, _ = pct(fresh, 0.9)
        late = [(ch[4] - ch[3]) / 1e6 for ch in c["chunks"]]
        l99, nl = pct(late, 0.99)
        prog = c["progress"]
        good_b = [b for b in batches if not b["error"]]
        layers.update({
            "cdc.freshness_p50_s": f50 or 0.0, "cdc.freshness_p90_s": f90 or 0.0,
            "stream.batches": len(prog),
            "stream.trigger_ms_p50": stats.median([p["trigger_ms"] for p in prog]),
            "stream.batch_events_p50": stats.median([p["rows"] for p in prog]),
            "stream.offset_commit_ms": stats.median([p["commit_ms"] for p in prog]),
            "stream.backlog_max_events": max(backlog, default=0),
            "stream.backlog_end_events": backlog[-1] if backlog else 0,
            "cdc.events": sum(p["rows"] for p in prog),
            "cdc.dlq_rows": sum(b["dlq_rows"] for b in batches),
            "sources.commits": sum(2 + (b["dlq_rows"] > 0) for b in good_b),
            "sources.commit_failures": len(failed_batches),
            "sources.bytes_written": c["bytes_written"],
            "sources.write_amp": c["bytes_written"] / max(1, os.path.getsize(c["envelopes"])),
            "sources.space_amp": c["space_amp"],
            "sources.table_files_end": c["table_files_end"],
            "sources.table_versions_end": c["table_versions_end"],
            "sources.manifest_bytes_end": c["manifest_bytes_end"],
            "sources.merge_ms_slope": stats.slope([b["merge_ms"] for b in good_b]),
            "gen.late_ms_p99": l99 if l99 is not None else max(late, default=0.0),
        })
        extra += [
            f"freshness_p50_s  {_fmt(f50)} s   (n={nf})",
            f"freshness_p90_s  {_fmt(f90)} s   (n={nf})",
            f"space_amp        {c['space_amp']:.4f}",
            f"batches          {len(batches)} ({len(failed_batches)} failed), "
            f"generator late p99 {_fmt(l99)} ms (n={nl})",
        ]
    report = [f"workload {a.workload}  seed {a.seed}  sources {digest[:12]}  cpus {res['cpus']}  "
              f"trace {a.trace}  "
              f"steal {res['host']['steal_pct']:.2f}%  io {res['host']['io_ms_per_s']:.1f} ms/s  "
              f"loadavg {res['host']['loadavg']:.2f}",
              f"setup_s          {_fmt(setup)} s   (median of setups 2-{len(res['setup_s'])}; "
              f"all: {', '.join(_fmt(x) for x in res['setup_s'])})",
              f"op_p50_s         {_fmt(p50)} s   (n={n50})",
              f"op_p90_s         {_fmt(p90)} s   (n={n90})",
              f"goodput_ops_per_s {e2e['goodput_ops_per_s']:.4f} 1/s ({len(ok)} correct ops "
              f"in {window:.2f} s)",
              f"failed_frac      {failed}/{attempted} = {failed / max(1, attempted):.4f}",
              f"live_heap_mb     {res['live_heap_mb']:.1f} MB",
              *extra]
    names = sorted({o["name"] for o in failed_ops})
    if names:
        report.append(f"failing entries  {', '.join(names)}")
        for o in failed_ops[:8]:
            report.append(f"  {o['id']} {o['name']}: {o['error'] or verdict_of_op.get(o['id'])}")
    for p in problems:
        report.append(f"CHECK FAILED     {p}")
    return attempted, failed, e2e, layers, report


def _fmt(x):
    return "refused" if x is None else f"{x:.6f}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        import selftest
        sys.exit(selftest.main(build))
    if not a.workload:
        ap.error("--workload is required")
    cp = build()
    import check
    work_root = REPO / ".bench_work"
    shutil.rmtree(work_root / a.workload, ignore_errors=True)
    work = work_root / a.workload
    work.mkdir(parents=True)
    make_inputs(a.workload, a.seed, a.seconds, work)

    def check_outputs(res):
        t0 = time.monotonic()
        problems = []
        if a.workload == "cdc_ingest":
            verdict_of_op, problems = check.check_cdc(res)
        else:
            by_group = check.check_registry(
                res, work / "data", work / "versions" if a.workload == "curation_refresh" else None)
            verdict_of_op = {o["id"]: by_group.get(o["output"], "no output")
                             for o in res["ops"] if not o["error"]}
        return verdict_of_op, problems, time.monotonic() - t0

    res, (verdict_of_op, problems, check_s) = run_jvm(cp, a, work, then=check_outputs)
    attempted, failed, e2e, layers, report = summarize(a, res, verdict_of_op, problems, check_s,
                                                       _sources_digest())
    # olap_mix and cdc_ingest fail no op on a healthy program, so any failed
    # op or batch there makes the run incorrect; curation_refresh's
    # memo-stale ops are expected today and are counted in `failed` only
    correct = not problems and (a.workload == "curation_refresh" or failed == 0)
    if a.trace:
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
    print("\n".join(report))
    print(f"check            {'ok' if correct else 'FAILED'} ({check_s:.2f} s)")
    if not a.trace and any(v is None for v in e2e.values()):
        fail("op_p50_s refused (too few samples beyond it, or it falls on a failed op); "
             "no result", 1)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
