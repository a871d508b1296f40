#!/usr/bin/env python3
"""graft benchmark: one workload, one JVM, one seed.

    python3 perfbench/run.py --workload migrate|dedup|ann --seed N \
        --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the engine
and the harness from source with the Scala compiler that ships in the
Spark distribution (no sbt); later runs reuse the build while the
sources are unchanged. Build outputs and per-run scratch go under
$CARGO_TARGET_DIR (default .bench_build) in the checkout.

A run generates one input directory per pass from the seed (gen.py),
starts the harness JVM, which runs untimed warm-up passes and then
timed passes for --seconds, checks every timed answer against DuckDB
outside the timed region, and prints a table and, last, one JSON line.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402

KEEP = 0.9
RECALL_FLOOR = 0.4
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
MB = 1048576.0
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_process(cmd, timeout, logfile, cwd=None):
    """Run to completion (or kill and reap it on timeout)."""
    with open(logfile, "ab") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    if rc != 0:
        with open(logfile, errors="replace") as f:
            tail = f.read()[-3000:]
        raise BenchError("%s exited %d:\n%s" % (cmd[-1], rc, tail))


def alive(pid):
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # exists, owned by someone else
        pass
    return True


def declared(root, path, pattern, what):
    """A location the repository already declares in one of its files."""
    try:
        with open(os.path.join(root, path)) as f:
            m = re.search(pattern, f.read())
    except OSError:
        m = None
    if not m:
        raise BenchError("%s names no %s" % (path, what))
    return m.group(1)


def java(classpath, main, args, props=()):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return (["java", "-XX:-UsePerfData"] + opens + ["-Xmx3g", "-XX:ReservedCodeCacheSize=1g",
                                                    "-XX:+UseCodeCacheFlushing"]
            + ["-D%s=%s" % kv for kv in props]
            + ["-cp", classpath, main] + args)


def scalac(jars, classpath, out, sources, logfile):
    os.makedirs(out, exist_ok=True)
    run_process(["java", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + out, "-Xss8m", "-Xmx2g",
                 "-cp", os.path.join(jars, "*"),
                 "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-cp", classpath,
                 "-d", out] + sources, BUILD_TIMEOUT_S, logfile)


def build(root, build_root, jars, base):
    """Compile the engine and the harness, and dump the oracle SQL, once
    per distinct source tree. Returns the build directory."""
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not main or not harness:
        raise BenchError("no sources under %s/src/main/scala or %s/harness" % (root, HERE))
    digest = hashlib.sha256()
    for path in main + harness:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    bdir = os.path.join(build_root, "build-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(bdir, "ok")):
        return bdir
    for old in glob.glob(os.path.join(build_root, "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(bdir)
    blog = os.path.join(bdir, "build.log")
    t0 = time.time()
    scalac(jars, "", os.path.join(bdir, "main"), main, blog)
    scalac(jars, os.path.join(bdir, "main"), os.path.join(bdir, "harness"), harness, blog)
    work = os.path.join(bdir, "oracle-work")
    os.makedirs(work)
    run_process(java(classpath(bdir, jars), "perfbench.Harness",
                     ["--mode", "oracles", "--inputs", base, "--out", bdir],
                     jvm_props(work)), BUILD_TIMEOUT_S, blog, cwd=work)
    shutil.rmtree(work)
    open(os.path.join(bdir, "ok"), "w").close()
    log("built %s in %.1f s" % (bdir, time.time() - t0))
    return bdir


def classpath(bdir, jars):
    return os.pathsep.join([os.path.join(bdir, "harness"), os.path.join(bdir, "main"),
                            os.path.join(jars, "*")])


def jvm_props(work):
    """Keep every file the JVM writes inside the run's work directory."""
    return [("graft.scratch.dir", os.path.join(work, "scratch")),
            ("java.io.tmpdir", os.path.join(work, "tmp")),
            ("spark.local.dir", os.path.join(work, "spark-local")),
            ("spark.sql.warehouse.dir", os.path.join(work, "warehouse")),
            ("spark.sql.session.timeZone", "UTC"),
            ("spark.ui.enabled", "false")]


def percentile(values, q):
    """Linear-interpolated q-quantile (0 <= q <= 1) of a sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("empty sample")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n, candidates=(0.99, 0.95, 0.9, 0.75)):
    """Highest candidate percentile with at least ten samples beyond it,
    or None when the sample is too small for any."""
    for q in candidates:
        if n * (1 - q) >= 10 - 1e-9:
            return q
    return None


def typical_pass(passes):
    """Wall time of a typical pass, in s: each call's median wall over the
    passes, plus the median of the pass time outside the calls. A burst
    of host noise then moves only the call it lands in, in one pass."""
    walls = {}
    for p in passes:
        for c in p["calls"]:
            walls.setdefault(c["name"], []).append(c["wall_s"])
    between = [p["wall_s"] - sum(c["wall_s"] for c in p["calls"]) for p in passes]
    return sum(statistics.median(ws) for ws in walls.values()) + statistics.median(between)


def check_answers(root, out, input_dir, names):
    """dev/check.py over one pass's dumped results; returns failed names."""
    res = subprocess.run([sys.executable, os.path.join(root, "dev", "check.py"),
                          out, input_dir] + names, capture_output=True, text=True)
    ok = {line.split()[1].rstrip(":") for line in res.stdout.splitlines()
          if line.startswith("OK ")}
    failed = [n for n in names if n not in ok]
    for line in res.stdout.splitlines():
        if line.startswith("FAIL") or line.startswith("  "):
            log(line)
    if res.returncode not in (0, 1):
        log(res.stderr[-2000:])
    return failed


def recall_at_5(out, input_dir, answers):
    """(hits, wanted) of the given answer dirs against exact cosine top-5
    computed in DuckDB over the pass's embeddings."""
    import duckdb
    con = duckdb.connect()
    con.sql("""CREATE TABLE n AS SELECT vec_id, embedding,
                 sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
               FROM '%s/embeddings.parquet'""" % input_dir)
    hits = wanted = 0
    for name in answers:
        got = con.sql("SELECT DISTINCT query_id, neighbor_id FROM '%s/%s/*.parquet'"
                      % (out, name)).fetchall()
        queries = sorted({q for q, _ in got})
        if not queries:
            continue
        exact = set(con.sql("""
            SELECT query_id, neighbor_id FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                row_number() OVER (PARTITION BY q.vec_id ORDER BY
                  list_sum(list_transform(list_zip(q.embedding, c.embedding),
                    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (q.nrm * c.nrm) DESC,
                  c.vec_id) AS rnk
              FROM n q JOIN n c ON c.vec_id <> q.vec_id
              WHERE q.vec_id IN (%s))
            WHERE rnk <= 5""" % ",".join(map(str, queries))).fetchall())
        hits += len(exact & set(got))
        wanted += len(exact)
    return hits, wanted


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if a.workload not in workloads:
        raise BenchError("unknown workload %r (have %s)" % (a.workload, ", ".join(workloads)))
    wl = workloads[a.workload]
    # the Spark jars the sbt build compiles against, and the sf0.01 inputs
    jars = declared(root, "build.sbt", r'unmanagedBase := file\("([^"]+)"\)', "Spark jars")
    base = declared(root, "TESTDATA.md", r"\|\s*0\.01\s*\|\s*`([^`]+?)/?`", "sf0.01 input")
    if not os.path.isdir(base):
        raise BenchError("base input %s not found" % base)
    build_root = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(build_root, exist_ok=True)
    # one build per source tree, even when runs start together
    with open(os.path.join(build_root, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        bdir = build(root, build_root, jars, base)

    for stale in glob.glob(os.path.join(build_root, "work-*")):
        if not alive(int(stale.rsplit("-", 1)[1])):
            shutil.rmtree(stale, ignore_errors=True)
    work = os.path.join(build_root, "work-%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    try:
        return measure(a, root, wl, bdir, jars, base, build_root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(a, root, wl, bdir, jars, base, build_root, work):
    started = time.time()
    inputs, stats = [], []
    # untimed warm-up passes, then timed passes until --seconds of timed
    # work is done, at most the workload's timed_passes
    warmups = wl["warmup_passes"]
    for i in range(warmups + wl["timed_passes"]):
        d = os.path.join(work, "inputs", "p%d" % i)
        stats.append(gen.generate(base, d, a.seed, i, KEEP))
        inputs.append(d)
    rows_per_pass = [sum(s[t][0] for t in wl["tables"]) for s in stats]
    bytes_per_pass = [sum(s[t][1] for t in wl["tables"]) for s in stats]
    out = os.path.join(work, "out")
    for sub in ("scratch", "tmp", "artifacts"):
        os.makedirs(os.path.join(work, sub))

    launch = time.time()
    log("inputs generated in %.1f s" % (launch - started))
    run_process(java(classpath(bdir, jars), "perfbench.Harness", [
        "--mode", "run", "--workload", a.workload,
        "--workloads", os.path.join(HERE, "workloads.json"),
        "--inputs", ",".join(inputs), "--warmup", str(warmups),
        "--oracle-cache", os.path.join(bdir, "oracle_sql.json"),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--scratch", os.path.join(work, "scratch"),
        "--artifacts", os.path.join(work, "artifacts"), "--out", out],
        jvm_props(work)), JVM_TIMEOUT_S, os.path.join(work, "jvm.log"), cwd=work)
    jvm_done = time.time()
    log("harness JVM ran %.1f s" % (jvm_done - launch))
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    warm, timed = res["passes"][warmups - 1], res["passes"][warmups:]
    if not timed:
        raise BenchError("no timed pass ran")
    setup_s = res["first_timed_pass_epoch_ms"] / 1000.0 - launch

    # correctness, outside the timed region
    attempted = sum(len(p["calls"]) for p in timed)
    timed_ids = {"p%d" % p["index"] for p in timed}
    failed = {e.split(":")[0] for e in res["errors"] if e.split("/")[0] in timed_ids}
    hits = wanted = 0
    for p in timed:
        pdir = os.path.join(out, "p%d" % p["index"])
        with open(os.path.join(pdir, "oracle_sql.json")) as f:
            names = sorted(json.load(f))
        called = {c["name"] for c in p["calls"]}
        must_check = called & (set(wl["operators"]) | {"serve_b0"})
        failed |= {"p%d/%s: no oracle SQL" % (p["index"], n) for n in must_check - set(names)}
        failed |= {"p%d/%s" % (p["index"], n)
                   for n in check_answers(root, pdir, p["dir"], names)}
        if wl.get("serve_batches"):
            answers = ["serve_b%d" % b for b in range(wl["serve_batches"])]
            answers.append("ann_ivf")
            h, w = recall_at_5(pdir, p["dir"], [n for n in answers
                                                if os.path.isdir(os.path.join(pdir, n))])
            hits, wanted = hits + h, wanted + w
    recall = hits / wanted if wanted else None
    log("answers checked in %.1f s" % (time.time() - jvm_done))
    problems = list(res["errors"]) + ["zero rows: " + z for z in res["zero_rows"]]
    if recall is not None and recall < RECALL_FLOOR:
        problems.append("recall@5 %.3f below %.2f" % (recall, RECALL_FLOOR))
    correct = not failed and not problems

    # end-to-end metrics
    pass_s = [p["wall_s"] for p in timed]
    serving = bool(wl.get("serve_batches"))
    walls = {}  # (layer, call) -> its wall in each timed pass, ms
    for p in timed:
        for c in p["calls"]:
            walls.setdefault((c["layer"], c["name"]), []).append(c["wall_s"] * 1000.0)
    typical_pass_s = typical_pass(timed)
    timed_rows = statistics.median(rows_per_pass[p["index"]] for p in timed)
    is_request = {k: not serving or k[1].startswith("serve_b") for k in walls}
    requests = [w for k, ws in walls.items() if is_request[k] for w in ws]
    # each request's median over the timed passes, so one slow pass
    # cannot move the figure
    typical = [statistics.median(ws) for k, ws in walls.items() if is_request[k]]
    leak_mb = (timed[-1]["scratch_bytes"] - warm["scratch_bytes"]) / MB / len(timed)
    e2e = {
        "rows_per_s": (timed_rows / typical_pass_s, "rows/s", len(timed)),
        "setup_s": (setup_s, "s", 1),
        "request_ms_geomean": (statistics.geometric_mean(typical), "ms", len(requests)),
    }
    report = dict(e2e)
    report["request_ms_p50"] = (statistics.median(requests), "ms", len(requests))
    tail = tail_percentile(len(requests))
    if tail:
        report["request_ms_p%d" % round(tail * 100)] = (percentile(requests, tail), "ms",
                                                        len(requests))
    if recall is not None:
        report["recall_at_5"] = (recall, "fraction", wanted)
    report["failed_frac"] = (len(failed) / attempted, "fraction", attempted)
    report["disk_leak_mb_per_pass"] = (leak_mb, "MB", len(timed))

    print("workload %s  seed %d  timed passes %d (%s s, typical %.2f s)  input/pass %d rows"
          " %.2f MB%s"
          % (a.workload, a.seed, len(timed), " ".join("%.2f" % s for s in pass_s), typical_pass_s,
             statistics.median(rows_per_pass), statistics.median(bytes_per_pass) / MB,
             "" if serving else "  (a request is one call)"))
    for name, (v, unit, n) in report.items():
        print("  %-24s %14.4f %-9s n=%d" % (name, v, unit, n))
    print("  call walls (s, median over timed passes): " + ", ".join(
        "%s.%s %.2f" % (k + (statistics.median(ws) / 1000.0,)) for k, ws in walls.items()))
    for p in problems + sorted(failed):
        print("  FAILED " + p)

    metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
    state = os.path.join(build_root, "untraced-%s.json" % a.workload)
    if a.trace:
        metrics = traced_metrics(res, out, bytes_per_pass, state, e2e, os.path.join(
            build_root, "layers-%s-seed%d" % (a.workload, a.seed)))
    else:
        with open(state, "w") as f:
            json.dump({k: v[0] for k, v in e2e.items()}, f)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(failed),
                      "metrics": metrics}))
    return 0 if correct else 1


def traced_metrics(res, out, bytes_per_pass, state, e2e, saved):
    """Per-layer metrics of a traced run: all of them are printed and
    saved as JSON; those of layers.PER_LAYER are returned."""
    timed = [p for p in res["passes"] if not p["warmup"]]
    values, attribution = layers.per_layer(
        layers.load(os.path.join(out, "spans.jsonl")),
        [bytes_per_pass[p["index"]] for p in timed], timed, res["threads_end"],
        {p["name"]: p["value"] for p in res["probes"]})
    print("  trace: %(jobs_seen)d jobs, %(by_group)d by job group, %(by_window)d by time window,"
          " %(unattributed)d unattributed" % attribution)
    if attribution["unattributed"]:
        raise BenchError("%d Spark jobs not attributed to a call" % attribution["unattributed"])
    if os.path.exists(state):
        with open(state) as f:
            base = json.load(f)
        print("  tracing overhead vs last untraced run: " + ", ".join(
            "%s %+.1f%%" % (k, 100.0 * (e2e[k][0] - base[k]) / base[k]) for k in base if base[k]))
    for k in sorted(values):
        print("  %-44s %14.4f" % (k, values[k]))
    with open(saved + ".json", "w") as f:
        json.dump(values, f, indent=1, sort_keys=True)
    shutil.copy(os.path.join(out, "spans.jsonl"), saved + ".jsonl")
    return {name: {"value": values[name], "unit": unit} for name, unit, _ in layers.PER_LAYER}


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        log("perfbench: %s" % e)
        sys.exit(2)
