#!/usr/bin/env python3
"""The repo benchmark: one command, three workloads, one JSON result line.

    python3 perfbench/run.py --workload drain|trickle|catalog --seed N \
        --seconds S --trace 0|1 [--size tiny] [--corrupt-expected]

Run from the root of a checkout. The first run compiles the engine
(`src/main/scala`) and the harness (`perfbench/src`) with the Scala compiler
that ships among the Spark jars named by `build.sbt`, into `.bench_build`
(or `$CARGO_TARGET_DIR`); later runs reuse it while the sources are
unchanged. The harness JVM writes what it measured to a work dir under
`.bench_work`; this script checks the outputs outside the timed window,
prints one `name value unit` line per metric, and as its last line the
result object `{"correct", "attempted", "failed", "metrics"}`. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones (see `perfbench/metrics.json`). Artifacts (the full record,
and spans of traced runs) are copied to `.bench_out`.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
JVM_LIMIT_S = 165
BUILD_LIMIT_S = 700

# the module opens Spark 4 needs on JDK 17 outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def quantile(xs, q):
    """Linear-interpolated quantile (numpy's default)."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def spark_jars():
    """The jar directory build.sbt declares as its unmanaged base."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.exists(sbt):
        fail("no build.sbt: run from the root of a full checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not glob.glob(os.path.join(m.group(1), "scala-compiler-*.jar")):
        fail("build.sbt names no jar directory holding the Scala compiler")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    if not main or not harness:
        fail("engine or harness sources missing: run from the root of a full checkout")
    return main, harness


def build(jars):
    """Compile engine + harness unless the stamped build matches the sources."""
    main, harness = sources()
    out = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    out = os.path.join(ROOT, out)
    digest = hashlib.md5()
    for p in main + harness:
        digest.update(p.encode())
        digest.update(open(p, "rb").read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out, False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = os.path.join(jars, "*")
    engine_cp = os.path.join(out, "classes") + os.pathsep
    for name, srcs, extra in (("classes", main, ""), ("harness", harness, engine_cp)):
        dst = os.path.join(out, name)
        os.makedirs(dst)
        listing = os.path.join(out, f"{name}.txt")
        with open(listing, "w") as f:
            f.write("\n".join(srcs))
        r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp,
                            "scala.tools.nsc.Main", "-nowarn", "-d", dst,
                            "-classpath", extra + cp, "@" + listing],
                           capture_output=True, text=True, timeout=BUILD_LIMIT_S)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
            fail(f"compiling {name} failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out, True


def run_jvm(args, build_dir, jars, work, limit_s):
    cp = os.pathsep.join([os.path.join(build_dir, "harness"), os.path.join(build_dir, "classes"),
                          os.path.join(jars, "*")])
    # -XX:-UsePerfData: the JVM would otherwise write its perf file outside the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.system.home={work}/derby"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    data = os.path.join(HERE, "data", "sf0.01")
    cmd += ["-cp", cp, "perfbench.Harness", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
            "--data", data, "--size", args.size]
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness exceeded {limit_s:.0f} s; log: {log_path}")
    result = os.path.join(work, "result.json")
    if p.returncode != 0 or not os.path.exists(result):
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"harness failed (exit {p.returncode}); log: {log_path}")
    return json.load(open(result))


# ---------------------------------------------------------------------------
# Output checks: tools/check.py's canonicalization and hash, unchanged.
# ---------------------------------------------------------------------------
def load_check():
    sys.dont_write_bytecode = True
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check  # noqa: E402
    return check


def read_parquet(path):
    import pandas as pd
    parts = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not parts:
        return None
    return pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)


def frame_hash(check, df):
    return check.h(check.canon(df))


def end_epoch_s(series):
    """Window-end timestamps as whole epoch seconds."""
    import pandas as pd
    return (pd.to_datetime(series, utc=True).astype("int64") // 10**9).astype("int64")


def check_drain(check, res, corrupt):
    twin = read_parquet(res["checks"]["twin"])
    expected = "0" * 32 if corrupt else frame_hash(check, twin)
    want_rows = res["checks"]["expected_windows"] if not res["tiny"] else len(twin)
    ops = []
    for op in res["untraced"]["ops"]:
        got = read_parquet(op["out"])
        ok = got is not None and len(got) == want_rows and frame_hash(check, got) == expected
        ops.append({"ms": op["ms"], "ok": ok})
    return ops


def sink_commits(sink):
    """Window end (epoch s) -> commit time (epoch ms) of the sink batch that
    wrote it, from the mtime of its `_spark_metadata` log entry."""
    import pyarrow.parquet as pq
    meta = os.path.join(sink, "_spark_metadata")
    entries = []
    for f in os.listdir(meta):
        m = re.fullmatch(r"(\d+)(\.compact)?", f)
        if m:
            entries.append((int(m.group(1)), os.path.join(meta, f)))
    seen, commit = set(), {}
    for _, path in sorted(entries):
        at = os.stat(path).st_mtime_ns / 1e6
        for line in open(path).read().splitlines()[1:]:
            fpath = json.loads(line)["path"]
            if fpath in seen:
                continue
            seen.add(fpath)
            local = re.sub(r"^file:(//)?", "", fpath)
            ends = pq.read_table(local, columns=["end"]).column("end").to_pandas()
            for e in set(end_epoch_s(ends).tolist()):
                commit[e] = min(commit.get(e, at), at)
    return commit


def check_trickle(check, res, corrupt, passes):
    """Window-end ops of each pass. A pass's file k finalizes window end
    base + 60 (first + k); its latency runs from the file's due time to the
    commit of the sink batch that wrote that end."""
    c = res["checks"]
    twin = read_parquet(c["twin"])
    twin["_end"] = end_epoch_s(twin["end"])
    sink = res[passes[0]]["sink"]
    got = read_parquet(sink)
    got["_end"] = end_epoch_s(got["end"])
    commits = sink_commits(sink)
    # the sink holds exactly the twin's window ends at or below the final
    # watermark, and the state store dropped no row
    final_ok = (c["rows_dropped"] == 0 and
                set(got["_end"]) == set(twin.loc[twin["_end"] <= c["watermark_ms"] / 1000, "_end"]))
    out = {}
    for key in passes:
        p = res[key]
        base, first, due = p["base_s"], p["first"], p["due_ms"]
        ends = [base + 60 * (first + k) for k in range(len(due))]
        ops = []
        for k, end in enumerate(ends):
            exp = twin[twin["_end"] == end].drop(columns="_end")
            have = got[got["_end"] == end].drop(columns="_end")
            ok = (final_ok and p["completed"] and end in commits and len(exp) > 0 and
                  ("0" * 32 if corrupt else frame_hash(check, exp)) == frame_hash(check, have))
            ms = commits[end] - due[k] if end in commits else p["wall_s"] * 1000
            ops.append({"ms": ms, "ok": ok})
        # backlog at each due time: files already due whose window has not landed
        backlog = max(sum(1 for j in range(k + 1) if commits.get(ends[j], float("inf")) > due[k])
                      for k in range(len(due)))
        late = max(m - d for m, d in zip(p["moved_ms"], due))
        out[key] = {"ops": ops, "backlog_files_max": backlog, "gen_late_ms_max": late}
    return out


def oracle_hashes(check, res, names):
    """Oracle hash per query, cached by md5 of the oracle SQL; a miss runs
    the SQL in DuckDB over the same tables and updates the cache."""
    cache_path = os.path.join(HERE, "oracle_hashes.json")
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    sqls = res["checks"]["oracle"]
    want = {}
    con = None
    for n in names:
        sql = sqls.get(n)
        if sql is None:
            want[n] = None
            continue
        key = hashlib.md5(sql.encode()).hexdigest()
        if key not in cache:
            if con is None:
                import duckdb
                con = duckdb.connect()
                tdir = res["checks"]["tables"]
                for t in glob.glob(os.path.join(tdir, "*.parquet")):
                    name = os.path.basename(t)[:-len(".parquet")]
                    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
            cache[key] = {"query": n, "hash": frame_hash(check, con.sql(sql).df())}
            with open(cache_path + ".tmp", "w") as f:
                json.dump(dict(sorted(cache.items())), f, indent=1)
            os.replace(cache_path + ".tmp", cache_path)
        want[n] = cache[key]["hash"]
    return want


def check_catalog(check, res, corrupt, key):
    ops = res[key]["ops"]
    want = oracle_hashes(check, res, sorted({o["name"] for o in ops}))
    out = []
    for op in ops:
        got = read_parquet(op["out"])
        exp = "0" * 32 if corrupt else want[op["name"]]
        ok = got is not None and exp is not None and frame_hash(check, got) == exp
        out.append(dict(op, ok=ok))
    return out


# ---------------------------------------------------------------------------
def dir_stats(paths):
    files = size = 0
    for p in paths:
        for f in glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True):
            files += 1
            size += os.path.getsize(f)
    return files, size


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["drain", "trickle", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="replace every expected hash with a wrong one (smoke test)")
    args = ap.parse_args()
    t_start = time.time()

    jars = spark_jars()
    check = load_check()
    build_dir, built = build(jars)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    limit = JVM_LIMIT_S - (0 if built else time.time() - t_start)
    try:
        res = run_jvm(args, build_dir, jars, work, limit)
        report(args, res, check, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(args, res, check, work):
    corrupt = args.corrupt_expected
    setup = res["setup"]
    # staging runs as three shards of one step; the median shard stands for each
    stage_s = quantile(setup["stage_s"], 0.5) * len(setup["stage_s"])
    setup_s = setup["jvm_s"] + setup["session_s"] + setup["warmup_s"] + stage_s
    un = res["untraced"]
    named = {}  # workload-specific figures, printed but not gated
    trickle = None

    if args.workload == "drain":
        ops = check_drain(check, res, corrupt)
        lat = [o["ms"] for o in ops]
        named["drain_mb_per_s"] = (un["input_mb"] / (quantile(lat, 0.5) / 1000), "MB/s")
        untraced_cmp = lat
    elif args.workload == "trickle":
        keys = ["untraced"] + (["traced"] if args.trace else [])
        trickle = check_trickle(check, res, corrupt, keys)
        ops = trickle["untraced"]["ops"]
        lat = [o["ms"] for o in ops]
        named["window_latency_p50_ms"] = (quantile(lat, 0.5), "ms")
        named["window_latency_p90_ms"] = (quantile(lat, 0.9), "ms")
        named["window_ends"] = (len(lat), "count")
        untraced_cmp = lat
    else:
        ops = check_catalog(check, res, corrupt, "untraced")
        lat = [o["ms"] for o in ops]
        for kind, name in (("read_cold", "read_cold_s"), ("warm", "read_warm_s"),
                           ("write_cold", "write_cold_s")):
            named[name] = (sum(o["ms"] for o in ops if o["kind"] == kind) / 1000, "s")
        untraced_cmp = [o["ms"] for o in ops if o["kind"] == "warm"]

    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    named["failed_share"] = (failed / attempted if attempted else 1.0, "ratio")
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (quantile(lat, 0.5), "ms"),
        "heap_after_gc_mb": (res["heap_after_gc_mb"], "MB"),
    }
    # printed, not gated: a run holds too few ops for a p90, and process CPU
    # time moves with the machine as much as the latency does
    named["latency_p90_ms"] = (quantile(lat, 0.9), "ms")
    named["cpu_ms_per_op"] = (un["cpu_s"] * 1000 / max(attempted, 1), "ms")
    diag = {"calib.start_s": (res["calib"]["start_s"], "s"),
            "calib.end_s": (res["calib"]["end_s"], "s")}

    metrics = e2e
    if args.trace:
        metrics = per_layer(args, res, trickle, untraced_cmp, setup, stage_s, diag)

    for name, (v, unit) in list(named.items()) + list(e2e.items()) + list(diag.items()):
        print(f"{args.workload} {name} {v:.6g} {unit}")
    print(f"{args.workload} seed {args.seed} (held-out seed: {args.seed + 1000003})")
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    artifact = os.path.join(ROOT, ".bench_out", tag + ".json")
    with open(artifact, "w") as f:
        json.dump({"result": res, "ops": ops, "named": named, "metrics": metrics}, f)
    if args.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(ROOT, ".bench_out", tag + ".spans.jsonl"))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def per_layer(args, res, trickle, untraced_cmp, setup, stage_s, diag):
    layers = dict(res["layers"])
    extra = res.get("layers_extra", {})
    selft = layers.pop("selftimes_s", {})
    for k, v in sorted(selft.items()):
        print(f"{args.workload} selftime {k} {v:.6g} s")
    traced = res["traced"]
    if args.workload == "trickle":
        tr = trickle["traced"]
        traced_cmp = [o["ms"] for o in tr["ops"]]
        gen = {"source.gen_late_ms_max": tr["gen_late_ms_max"],
               "source.backlog_files_max": tr["backlog_files_max"]}
        outs = [traced["sink"]]
    else:
        traced_cmp = [o["ms"] for o in traced["ops"]
                      if args.workload == "drain" or o["kind"] == "warm"]
        gen = {"source.gen_late_ms_max": 0.0, "source.backlog_files_max": 0}
        outs = [o["out"] for o in traced["ops"]]
    files, size = dir_stats(outs)
    fams = {}
    for fam in ("core", "relational", "text", "dedup", "similarity", "pipeline"):
        for kind in ("cold", "warm"):
            fams[f"catalog.{fam}.{kind}_s"] = sum(
                o["ms"] for o in traced.get("ops", [])
                if args.workload == "catalog" and o["family"] == fam
                and (o["kind"] == "warm") == (kind == "warm")) / 1000
    un50, tr50 = quantile(untraced_cmp, 0.5), quantile(traced_cmp, 0.5)
    units = {m["name"]: m["unit"]
             for m in json.load(open(os.path.join(HERE, "metrics.json")))["per_layer"]}
    values = {}
    values.update({k: v for k, v in layers.items()})
    # layers only some workloads run read 0 on the others
    extra_only = ("articles.", "drain.", "streaming.overhead")
    values.update({k: 0.0 for k in units if k.startswith(extra_only)})
    values.update({k: v for k, v in extra.items() if k in units})
    values.update(gen)
    values.update(fams)
    values.update({"sink.files": files, "sink.bytes": size,
                   "setup.session_s": setup["jvm_s"] + setup["session_s"],
                   "setup.warmup_s": setup["warmup_s"], "setup.stage_s": stage_s,
                   "trace.overhead_ms": tr50 - un50,
                   "trace.overhead_share": (tr50 - un50) / un50 if un50 else 0.0})
    values.update({k: v for k, (v, _) in diag.items()})
    missing = [k for k in units if k not in values]
    if missing:
        fail(f"per-layer metrics not produced: {missing}")
    return {k: (float(values[k]), units[k]) for k in units}


if __name__ == "__main__":
    main()
