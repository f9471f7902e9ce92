#!/usr/bin/env python3
"""Benchmark of the PE-firm pipeline engine. Run from the repository root:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --rebuild-oracle   # recompute DuckDB's answers
  python3 perfbench/run.py --selftest         # the checks reject planted faults

Workloads: pe_pipeline, curated_ingest, declared_queries (see README.md).
The first run in a checkout builds the program and the benchmark with sbt
and evaluates the declared queries' oracle SQL in DuckDB; later runs reuse
both while their sources are unchanged. Everything is written under
.bench_build/. The last stdout line is the run's JSON result.
"""
import argparse
import glob
import hashlib
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("pe_pipeline", "curated_ingest", "declared_queries")
FIXTURE = os.path.join(HERE, "data", "sf0.001")
JVM_TIMEOUT_S = 165
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

PIPE_LAYERS = ("SeedPipeline", "FoundedYear", "PortCoPipeline", "Sinks")
SPAN_Q = ("wall_s", "jobs", "between_jobs_s", "catalyst_s", "task_cpu_s",
          "shuffle_write_mb", "skew")
FAMILIES = ("CoreQueries", "Consensus", "Dedup", "Similarity", "TextAnalysis",
            "Multimodal", "ExtendedQueries", "TemporalQueries", "PipelineQueries",
            "SpecExtractors", "EventAnalytics", "Clustering", "GraphQueries",
            "QualityQueries")
FAMILY_Q = ("wall_s", "jobs", "between_jobs_s", "catalyst_s", "task_cpu_s")


CI_LAYERS = ([f"RollingIngest.batch.{q}" for q in
              SPAN_Q + ("add_batch_s", "query_planning_s", "wal_commit_s")] +
             ["Similarity.train_s", "RollingIngest.start_s", "funnel.quality_drops",
              "funnel.decontam_drops", "funnel.near_dup_drops", "funnel.kept",
              "funnel.kept_ratio", "store.files", "store.compactions",
              "store.bytes_rewritten"])


def per_layer_names():
    """The per-layer metrics a traced run prints, on every workload: a layer
    that does not run on the workload reads 0."""
    names = [f"{l}.{q}" for l in PIPE_LAYERS for q in SPAN_Q]
    names += [f"{f}.{q}" for f in FAMILIES for q in FAMILY_Q]
    names += ["SeedPipeline.members_in", "SeedPipeline.firms_out", "FoundedYear.texts_in",
              "FoundedYear.resolved_ratio", "PortCoPipeline.pages_in",
              "PortCoPipeline.portcos_out", "Sinks.bytes_written",
              "SessionBroadcastCache.entries", "SessionBroadcastCache.hit_ratio",
              "Persisted.cached_mb"]
    return names + CI_LAYERS

# Wall-time medians (pipeline_p50_s, query_p50_s, ...) are printed in the
# report lines but not gated: across ten seeds here the median pipeline
# execution spread 21 % (quartile distance over median), tracking a steal
# share that moved between 0.5 % and 9 % from run to run.
END_TO_END = (("setup_s", "s"), ("op_cpu_s", "s"))


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


# -------------------------------------------------------------- build

def build_dir():
    return os.path.abspath(".bench_build")


def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
                       + (" -Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                          if os.path.exists(os.path.expanduser("~/.sbt/repositories")) else ""))
    return env


def ensure_build():
    """Compile the program (its own build) and the benchmark; keep the
    runtime classpath. Skipped while no source changed."""
    bd = build_dir()
    srcs = [p for pat in ("src/main/**/*", "build.sbt", "project/*.sbt",
                          "project/*.scala", "project/build.properties",
                          "perfbench/build.sbt", "perfbench/project/build.properties",
                          "perfbench/src/**/*")
            for p in glob.glob(pat, recursive=True) if os.path.isfile(p)]
    stamp = tree_hash(srcs)
    cp_file = os.path.join(bd, "classpath.txt")
    stamp_file = os.path.join(bd, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(bd, exist_ok=True)
    log = os.path.join(bd, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd="perfbench", stdout=lf, stderr=subprocess.STDOUT, env=sbt_env(),
            stdin=subprocess.DEVNULL)
    lines = open(log).read().splitlines()
    cp = [l for l in lines if "perfbench/target" in l and ":" in l and not l.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (rc={rc}), see {log}")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def java_cmd(cp, main, args, scratch):
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    return (["java"] + ADD_OPENS + [
        "-Xmx4g", "-XX:PerMethodRecompilationCutoff=10000",
        "-XX:PerBytecodeRecompilationCutoff=10000",
        f"-Djava.io.tmpdir={scratch}/tmp", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, main] + args)


# ------------------------------------------------------------ oracle

def fixture_files(d):
    return sorted(glob.glob(os.path.join(d, "*.parquet")))


def ensure_oracle(cp, force=False):
    """DuckDB's answer to the timed declared queries' oracle SQL over the
    fixture, computed once per fingerprint (fixture bytes + SQL text)."""
    bd = build_dir()
    sql_path = os.path.join(bd, "oracle_sql.json")
    sql_stamp = os.path.join(bd, "oracle_sql.stamp")
    stamp = open(os.path.join(bd, "build.stamp")).read()
    if force or not (os.path.exists(sql_stamp) and open(sql_stamp).read() == stamp):
        scratch = os.path.join(bd, "oracle_jvm")
        rc = subprocess.call(java_cmd(cp, "perfbench.OracleSql", [sql_path], scratch),
                             stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                             timeout=JVM_TIMEOUT_S)
        if rc != 0:
            fail("could not dump the oracle SQL")
        with open(sql_stamp, "w") as f:
            f.write(stamp)
    sqls = json.load(open(sql_path))
    fp = tree_hash(fixture_files(FIXTURE) + [sql_path])[:16]
    odir = os.path.join(bd, "oracle", fp)
    if force and os.path.isdir(odir):
        shutil.rmtree(odir)
    if not os.path.exists(os.path.join(odir, "done.json")):
        import duckdb
        os.makedirs(odir, exist_ok=True)
        con = duckdb.connect()
        threads = os.cpu_count()
        con.execute(f"SET threads={threads}")
        for t in fixture_files(FIXTURE):
            name = os.path.basename(t)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
        t0, per = time.perf_counter(), {}
        for name, sql in sorted(sqls.items()):
            q0 = time.perf_counter()
            df = con.execute(sql).fetchdf()
            per[name] = time.perf_counter() - q0
            with open(os.path.join(odir, name + ".pkl"), "wb") as f:
                pickle.dump(df, f)
        with open(os.path.join(odir, "done.json"), "w") as f:
            json.dump({"duckdb_total_s": time.perf_counter() - t0, "threads": threads,
                       "queries": len(sqls), "per_query_s": per}, f)
    return odir, sqls


# -------------------------------------------------------------- runs

def proc_stat():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def make_inputs(workload, seed, ind):
    """Generates the run's inputs; returns the ground truth."""
    if workload == "pe_pipeline":
        return gen.gen_pe(os.path.join(ind, "main"), seed)
    if workload == "curated_ingest":
        return gen.gen_ci(ind, seed)
    shutil.copytree(FIXTURE, os.path.join(ind, "data"))
    return None


def dir_bytes(d):
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(d, "**", "*"), recursive=True)
               if os.path.isfile(p) and not p.endswith(".crc"))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def evaluate(workload, res, truth, out, oracle):
    """Checks the outputs; returns (problems, attempted, failed,
    end-to-end values, report figures, per-layer counts)."""
    lat = res.get("op_latencies_s", [])
    counts = {}
    if workload == "pe_pipeline":
        got = checks.read_pe_outputs(os.path.join(out, "main"))
        bad = checks.check_pe(got, truth)
        attempted, failed = len(lat), 0
        members = truth["counts"]["members_in"]
        op = median(lat)
        rate = members * len(lat) / sum(lat)
        report = {"pipeline_p50_s": (op, "s"), "pipeline_executions": (len(lat), "count"),
                  "members_per_s": (rate, "1/s")}
        years = list(got["founded"].values())
        counts = {"SeedPipeline.members_in": members,
                  "SeedPipeline.firms_out": len(got["seed"]),
                  "FoundedYear.texts_in": truth["counts"]["texts_in"],
                  "FoundedYear.resolved_ratio":
                      sum(y is not None for y in years) / max(len(years), 1),
                  "PortCoPipeline.pages_in": truth["counts"]["pages_in"],
                  "PortCoPipeline.portcos_out": len(got["portcos"]),
                  "Sinks.bytes_written": dir_bytes(os.path.join(out, "main", "nested"))}
    elif workload == "curated_ingest":
        per_batch = truth["batch_docs"]
        n_docs = res["docs_offered"]
        offered_ids = set()
        for p in sorted(glob.glob(os.path.join(out, "..", "in", "batches", "*.jsonl")))[:len(lat)]:
            offered_ids |= {str(json.loads(l)["doc_id"]) for l in open(p)}
        expect = {d: s for d, s in truth["expect"].items() if d in offered_ids}
        bad = checks.check_ci(res["curation"], res["decisions"], expect, res["fsck"])
        if n_docs != len(lat) * per_batch:
            bad.append(f"{n_docs} docs offered in {len(lat)} batches of {per_batch}")
        attempted, failed = len(lat), 0
        op = median(lat)
        rate = n_docs / res["ingest_wall_s"]
        report = {"ingest_batch_p50_s": (op, "s"), "ingest_docs_per_s": (rate, "docs/s"),
                  "ingest_store_mb": (res["store_bytes"] / 1e6, "MB"),
                  "batches": (len(lat), "count")}
        counts = checks.funnel_counts(res["curation"], res["decisions"])
    else:
        import pandas as pd  # noqa: F401  (unpickling needs it)
        odir, sqls = oracle
        passes = res["pass_latencies_s"]
        failed_q = res["failed_queries"]  # failures of the checked pass
        bad = [f"{n} failed: {e}" for n, e in failed_q.items()]
        bad += [f"{n} failed in a timed pass: {e}" for n, e in res["failed_timed"].items()]
        import duckdb
        con = duckdb.connect()
        for name in sorted(passes[0]):
            rdir = os.path.join(out, "results", name)
            if name in failed_q:
                continue
            if not os.path.isdir(rdir):
                bad.append(f"{name}: no result written")
                continue
            got = con.execute(f"SELECT * FROM read_parquet('{rdir}/*.parquet')").fetchdf()
            if name not in sqls:
                bad.append(f"{name}: no oracle SQL")
                continue
            with open(os.path.join(odir, name + ".pkl"), "rb") as f:
                want = pickle.load(f)
            d = checks.frames_equal(got, want)
            if d:
                bad.append(f"{name}: {d}")
        attempted = res["attempted"]
        failed = res["failed"]
        first = sum(passes[0].values())
        repeat = [v for p in passes[1:] for v in p.values()]
        q = statistics.quantiles(repeat, n=10)
        op = median(repeat)
        rate = attempted / sum(sum(p.values()) for p in passes)
        report = {"sweep_first_s": (first, "s"), "sweep_repeat_s": (sum(passes[1].values()), "s"),
                  "query_p50_s": (op, "s"), "query_p90_s": (q[8], "s"),
                  "passes": (len(passes), "count"), "queries_per_s": (rate, "1/s"),
                  "duckdb_oracle_s": (json.load(open(os.path.join(odir, "done.json")))
                                      ["duckdb_total_s"], "s")}
    report["rss_peak_mb"] = (res["rss_peak_mb"], "MB")
    report["setup_wall_s"] = (res["jvm_start_s"] + res["setup_wall_s"], "s")
    e2e = {"setup_s": res["setup_cpu_s"],
           "op_cpu_s": res["loop_cpu_s"] / attempted}
    return bad, attempted, failed, e2e, report, counts


def run(args):
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        fail("run from the root of a checkout of the program (build.sbt, src/ missing)")
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {', '.join(WORKLOADS)}")
    cp = ensure_build()
    oracle = ensure_oracle(cp) if args.workload == "declared_queries" else None
    rd = os.path.join(build_dir(), "runs", f"{args.workload}-{args.seed}-{args.trace}")
    if os.path.exists(rd):
        shutil.rmtree(rd)
    ind, out = os.path.join(rd, "in"), os.path.join(rd, "out")
    os.makedirs(out)
    truth = make_inputs(args.workload, args.seed, ind)
    jargs = ["--workload", args.workload, "--in", ind, "--out", out,
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--seed", str(args.seed),
             "--launch-ms", str(int(time.time() * 1000))]
    s0 = proc_stat()
    t0 = time.perf_counter()
    with open(os.path.join(rd, "jvm.log"), "w") as lf:
        p = subprocess.Popen(java_cmd(cp, "perfbench.Main", jargs, os.path.join(out, "scratch")),
                             stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"the workload JVM ran past {JVM_TIMEOUT_S}s; log in {rd}/jvm.log")
    wall = time.perf_counter() - t0
    s1 = proc_stat()
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        sys.stderr.write("".join(open(os.path.join(rd, "jvm.log")).readlines()[-25:]))
        fail(f"the workload JVM failed (rc={rc}); log in {rd}/jvm.log")
    res = json.load(open(os.path.join(out, "result.json")))
    bad, attempted, failed, e2e, report, counts = evaluate(
        args.workload, res, truth, out, oracle)
    steal = (s1[1] - s0[1]) / max(s1[0] - s0[0], 1)

    # the human-readable report, then the result line
    print(f"# workload {args.workload} seed {args.seed} trace {args.trace} "
          f"cpus {res['cpus']} ({res.get('op_kind', '')} = one operation)")
    print(f"# attempted {attempted} failed {failed}  jvm wall {wall:.2f} s  "
          f"executor cpu {res['executor_cpu_s']:.2f} s  steal {100 * steal:.2f}%"
          + (f"  warm-up {res['warmup_s']:.2f} s" if "warmup_s" in res else ""))
    for k, (v, u) in report.items():
        print(f"# {k} {v:.4f} {u}" if isinstance(v, float) else f"# {k} {v} {u}")
    for msg in bad:
        print(f"# CHECK FAILED: {msg}")
    if args.trace:
        layers = dict(res.get("layers", {}))
        layers.update(res.get("counts", {}))
        layers.update(counts)
        with open(os.path.join(rd, "trace.json"), "w") as f:
            json.dump({"spans": res.get("spans", []), "layers": layers}, f)
        print(f"# trace written to {rd}/trace.json")
        units = {"jobs": "count", "skew": "ratio"}
        metrics = {}
        for n in per_layer_names():
            q = n.rsplit(".", 1)[-1]
            unit = ("s" if n.endswith("_s") else "MB" if n.endswith("_mb") else
                    "ratio" if n.endswith("ratio") else "B" if n.endswith("bytes_written")
                    or n.endswith("bytes_rewritten") else units.get(q, "count"))
            metrics[n] = {"value": float(layers.get(n, 0.0)), "unit": unit}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def main():
    warnings.simplefilter("ignore", FutureWarning)
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rebuild-oracle", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        import selftest
        sys.exit(selftest.main())
    if args.rebuild_oracle:
        odir, sqls = ensure_oracle(ensure_build(), force=True)
        print(open(os.path.join(odir, "done.json")).read()[:200])
        return
    if not args.workload:
        ap.error("--workload is required")
    run(args)


if __name__ == "__main__":
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    main()
