#!/usr/bin/env python3
"""Benchmark of the graft ingestion, serving and operator paths.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --selftest

It compiles the engine (src/main/scala) and the benchmark (perfbench/src)
with the Scala compiler shipped among the Spark jars, caching the classes
under $CARGO_TARGET_DIR (default .bench_build) by source hash. It then
generates the operator tables from the seed, runs one benchmark JVM,
checks the operator answers against their DuckDB oracle, and prints one
JSON line: correct, attempted, failed and the metrics named in
BENCHMARK.json (end-to-end ones with --trace 0, per-layer ones with
--trace 1). Artifacts of each run go to <build dir>/out/.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
JVM_TIMEOUT_S = 160
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME, else of the first
    spark-submit on PATH that ships a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if any("scala-compiler" in j for j in jars):
            return jars
    fail("no Spark distribution with a Scala compiler (set SPARK_HOME)")


def tree_hash(dirs, salt=""):
    h = hashlib.sha256(salt.encode())
    for d in dirs:
        for path in sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)):
            h.update(os.path.relpath(path, d).encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def compile_tree(src_dirs, out_dir, classpath):
    """Compiles every .scala file under src_dirs into out_dir, once."""
    if os.path.isdir(out_dir):
        return
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    files = sorted(p for d in src_dirs
                   for p in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    argfile = f"{tmp}.args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    t0 = time.time()
    log(f"compiling {len(files)} files into {out_dir}")
    proc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss16m", "-cp", classpath,
         "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", classpath, f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"compilation failed:\n{proc.stdout[-4000:]}")
    try:
        os.rename(tmp, out_dir)
    except OSError:  # built concurrently by another run
        shutil.rmtree(tmp, ignore_errors=True)
    log(f"compiled in {time.time() - t0:.1f} s")


def jar_dir(src, jar_path, only=None):
    """Zips the files under src into a jar; class archives need jars."""
    import zipfile
    tmp = f"{jar_path}.tmp{os.getpid()}"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for base, _, files in os.walk(src):
            for name in sorted(files):
                path = os.path.join(base, name)
                rel = os.path.relpath(path, src)
                if only is None or rel in only:
                    z.write(path, rel)
    os.replace(tmp, jar_path)


def build(root, build_dir):
    """Compiles what is missing; returns (classpath, archive, resources).

    The engine and the benchmark are compiled and packed into jars under a
    directory named by their source hashes. Once per such directory, a
    training pass over every step records the classes a run loads into a
    class-data archive, which later JVMs map instead of loading the classes
    one by one (several seconds of every run's start-up and first steps).
    """
    engine_src = os.path.join(root, "src", "main", "scala")
    resources = os.path.join(root, "src", "main", "resources")
    if not os.path.isdir(engine_src) or not os.path.isdir(resources):
        fail("run from the repository root: src/main/scala and "
             "src/main/resources are missing")
    jars = spark_jars()
    jar_cp = ":".join(jars)
    os.makedirs(build_dir, exist_ok=True)
    engine_hash = tree_hash([engine_src])
    engine = os.path.join(build_dir, f"engine-{engine_hash}")
    compile_tree([engine_src], engine, jar_cp)
    bench_src = os.path.join(HERE, "src")
    bench_hash = tree_hash([bench_src], engine_hash)
    bench = os.path.join(build_dir, f"bench-{bench_hash}")
    compile_tree([bench_src], bench, f"{engine}:{jar_cp}")
    app = os.path.join(build_dir, f"app-{bench_hash}")
    os.makedirs(app, exist_ok=True)
    packed = [os.path.join(app, n) for n in ("bench.jar", "engine.jar", "res.jar")]
    for src, jar, only in zip([bench, engine, resources], packed,
                              [None, None, {"log4j2.properties", "wordpiece_vocab.txt",
                                            "q44_store_golden.csv"}]):
        if not os.path.exists(jar):
            jar_dir(src, jar, only)
    classpath = ":".join(packed) + ":" + jar_cp
    archive = os.path.join(app, "classes.jsa")
    if not os.path.exists(archive) and not os.path.exists(archive + ".failed"):
        train(classpath, archive, resources, build_dir)
    return classpath, archive if os.path.exists(archive) else None, resources


def train(classpath, archive, resources, build_dir):
    """Records the class archive from one training JVM; a run works without
    it, only slower, so a failed training is noted and not retried."""
    work = os.path.join(build_dir, "runs", f"train-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    t0 = time.time()
    log("recording the class archive")
    try:
        tables = os.path.join(work, "tables")
        tmp = f"{archive}.tmp{os.getpid()}"
        cmd = java_cmd(classpath, work, "perfbench.Main",
                       ["train", "0", "0", "0", work, resources, tables,
                        os.path.join(work, "result.json"), str(cores())],
                       [f"-XX:ArchiveClassesAtExit={tmp}", "-Xlog:cds=off",
                        "-Xlog:cds+dynamic=off"])
        os.makedirs(os.path.join(build_dir, "out"), exist_ok=True)
        code = run_jvm(cmd, work, os.path.join(build_dir, "out", "train.log"),
                       JVM_TIMEOUT_S)
        if code == 0 and os.path.exists(tmp):
            os.replace(tmp, archive)
            log(f"class archive recorded in {time.time() - t0:.1f} s")
        else:
            log(f"class archive training failed ({code}); running without it")
            open(archive + ".failed", "w").close()
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---- operator tables ---------------------------------------------------------

WORDS = ("key agg row scan slow fast table value part hash merge batch spark "
         "the a line sort window data column join small customer query big "
         "stream group filter order index vector chunk store commit").split()


def gen_tables(seed, out):
    """Seeded synthetic tables with the schemas the operator queries read
    (documents, embeddings, events, lineitem, orders, customer)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta
    os.makedirs(out, exist_ok=True)
    r = random.Random(seed)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    n_docs = 500
    texts = []
    for i in range(n_docs):
        if i >= 50 and r.random() < 0.2:   # near-duplicate of an earlier doc
            words = texts[r.randrange(i)].split()
            for _ in range(r.randint(1, 3)):
                words[r.randrange(len(words))] = r.choice(WORDS)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(r.choice(WORDS) for _ in range(r.randint(10, 90))))
    langs = ["en"] * 5 + ["de", "es", "fr", "zh"]
    write("documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([r.choice(langs) for _ in range(n_docs)], pa.string()),
        "source": pa.array([f"src{r.randrange(20)}" for _ in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    dim, n_vec, n_lab = 64, 500, 10
    cents = [[r.gauss(0, 1) for _ in range(dim)] for _ in range(n_lab)]
    labels, vecs = [], []
    for _ in range(n_vec):
        lab = r.randrange(n_lab)
        v = [c + r.gauss(0, 0.8) for c in cents[lab]]
        norm = math.sqrt(sum(x * x for x in v))
        labels.append(lab)
        vecs.append([x / norm for x in v])
    write("embeddings", {
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    t0 = datetime(2024, 1, 1)
    n_ev = 10000
    ts = sorted(t0 + timedelta(microseconds=r.randrange(30 * 86400 * 10**6))
                for _ in range(n_ev))
    types = ["click", "view", "purchase", "signup", "error"]
    write("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([r.randrange(150) for _ in range(n_ev)], pa.int64()),
        "event_type": pa.array([r.choice(types) for _ in range(n_ev)], pa.string()),
        "value": pa.array([round(r.uniform(0, 100), 2) for _ in range(n_ev)], pa.float64()),
        "props": pa.array([f'{{"k": {r.randrange(100)}}}' for _ in range(n_ev)], pa.string()),
    })

    n_cust, n_ord = 1500, 15000
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array([r.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": pa.array([round(r.uniform(-999, 9999), 2) for _ in range(n_cust)], pa.float64()),
        "c_mktsegment": pa.array([r.choice(segs) for _ in range(n_cust)], pa.string()),
    })
    d0 = datetime(1992, 1, 1)
    write("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array([r.randrange(n_cust) for _ in range(n_ord)], pa.int64()),
        "o_orderstatus": pa.array([r.choice("FOP") for _ in range(n_ord)], pa.string()),
        "o_totalprice": pa.array([round(r.uniform(1000, 500000), 2) for _ in range(n_ord)], pa.float64()),
        "o_orderdate": pa.array([d0 + timedelta(days=r.randrange(2400)) for _ in range(n_ord)], pa.timestamp("us")),
        "o_orderpriority": pa.array([r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]) for _ in range(n_ord)], pa.string()),
    })
    lk, ln = [], []
    for o in range(n_ord):
        for line in range(1, r.randint(1, 7) + 1):
            lk.append(o)
            ln.append(line)
    n_li = len(lk)
    write("lineitem", {
        "l_orderkey": pa.array(lk, pa.int64()),
        "l_partkey": pa.array([r.randrange(2000) for _ in range(n_li)], pa.int64()),
        "l_suppkey": pa.array([r.randrange(100) for _ in range(n_li)], pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": pa.array([float(r.randint(1, 50)) for _ in range(n_li)], pa.float64()),
        "l_extendedprice": pa.array([round(r.uniform(900, 100000), 2) for _ in range(n_li)], pa.float64()),
        "l_discount": pa.array([r.randint(0, 10) / 100 for _ in range(n_li)], pa.float64()),
        "l_tax": pa.array([r.randint(0, 8) / 100 for _ in range(n_li)], pa.float64()),
        "l_returnflag": pa.array([r.choice("ANR") for _ in range(n_li)], pa.string()),
        "l_linestatus": pa.array([r.choice("FO") for _ in range(n_li)], pa.string()),
        "l_shipdate": pa.array([d0 + timedelta(days=r.randrange(2500)) for _ in range(n_li)], pa.timestamp("us")),
    })
    return ["documents", "embeddings", "events", "customer", "orders", "lineitem"]


# ---- operator oracle ---------------------------------------------------------

def same_answer(scols, srows, ocols, orows):
    """Oracle rule: same column names, same rows in result order, values
    compared as the repository's oracle gate (tools/oracle_check.py) does."""
    from oracle_check import norm_rows
    return (sorted(scols) == sorted(ocols)
            and norm_rows(scols, srows) == norm_rows(ocols, orows))


def oracle_verdicts(tables_dir, tables, outputs_dir, oracle_sql):
    """query -> None if Spark's answer equals DuckDB's, else the reason."""
    import duckdb
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables_dir, t)}.parquet')")
    verdicts = {}
    for q, sql in sorted(oracle_sql.items()):
        res = os.path.join(outputs_dir, q)
        try:
            odf = con.execute(sql).fetchdf()
            sdf = con.execute(f"SELECT * FROM read_parquet('{res}/*.parquet')").fetchdf()
        except Exception as e:  # noqa: BLE001 -- any oracle error fails the query
            verdicts[q] = f"error: {e}"[:300]
            continue
        scols, ocols = list(sdf.columns), list(odf.columns)
        srows = [tuple(x) for x in sdf.itertuples(index=False, name=None)]
        orows = [tuple(x) for x in odf.itertuples(index=False, name=None)]
        if not same_answer(scols, srows, ocols, orows):
            verdicts[q] = f"differs from oracle ({len(srows)} vs {len(orows)} rows)"
        elif not srows:
            verdicts[q] = "empty answer"
        else:
            verdicts[q] = None
            # Planted wrong answer: one changed row must not pass.
            bad = list(srows[0])
            bad[0] = "planted" if not isinstance(bad[0], str) else bad[0] + "x"
            if same_answer(scols, [tuple(bad)] + srows[1:], ocols, orows):
                verdicts[q] = "planted wrong answer passed the oracle check"
    return verdicts


# ---- one run -----------------------------------------------------------------

def cores():
    return len(os.sched_getaffinity(0))


def java_cmd(classpath, work, main, args, jvm_opts=()):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -UsePerfData: no hsperfdata file outside the working directory.
    return (["java", *opens, *jvm_opts, "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
             "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m",
             f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dderby.system.home={work}/derby",
             "-cp", classpath, main] + args)


def run_jvm(cmd, cwd, log_path, timeout):
    with open(log_path, "w") as logf:
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        env["TMPDIR"] = os.path.join(cwd, "tmp")
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=logf,
                                stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def bench_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    root = os.getcwd()
    spec = bench_spec(root)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath, archive, resources = build(root, build_dir)
    t_start = time.time()  # the 180 s budget of a run starts after the build

    if a.selftest:
        sys.exit(subprocess.run(["java", "-XX:-UsePerfData", "-cp", classpath,
                                 "perfbench.SelfTest", resources]).returncode)

    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload!r}; one of {names}")
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(build_dir, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_dir = os.path.join(build_dir, "out", tag)
    os.makedirs(out_dir, exist_ok=True)
    try:
        # Only traced runs reach the operator queries that read the tables.
        tables_dir = os.path.join(work, "tables")
        tables = gen_tables(a.seed, tables_dir) if a.trace else []
        result_path = os.path.join(work, "result.json")
        cmd = java_cmd(classpath, work, "perfbench.Main",
                       [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                        work, resources, tables_dir, result_path, str(cores())],
                       [f"-XX:SharedArchiveFile={archive}", "-Xlog:cds=off"]
                       if archive else [])
        budget = max(30, JVM_TIMEOUT_S - (time.time() - t_start))
        log(f"JVM start at {time.time() - t_start:.1f} s")
        code = run_jvm(cmd, work, os.path.join(out_dir, "jvm.log"), budget)
        log(f"JVM end at {time.time() - t_start:.1f} s")
        if code != 0 or not os.path.exists(result_path):
            fail(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}; "
                 f"see {out_dir}/jvm.log")
        with open(result_path) as f:
            res = json.load(f)
        with open(os.path.join(work, "oracle_sql.json")) as f:
            oracle_sql = json.load(f)
        ran = {q: sql for q, sql in oracle_sql.items() if res["operator_runs"].get(q)}
        verdicts = oracle_verdicts(tables_dir, tables, res["operator_outputs"], ran)
        attempted, failed = res["attempted"], res["failed"]
        for q, why in verdicts.items():
            if why is not None:
                failed += res["operator_runs"].get(q, 1)
                res["failures"].append(f"op.{q}: {why}")
        kind = "per_layer" if a.trace else "end_to_end"
        units = {m["name"]: m["unit"] for m in spec[kind]}
        missing = sorted(set(units) - set(res["metrics"]))
        if missing:
            fail(f"metrics missing from the run: {missing}")
        metrics = {n: {"value": res["metrics"][n], "unit": u} for n, u in units.items()}
        correct = failed == 0 and res["planted_failures_caught"]
        res.update({"oracle": verdicts, "failed": failed, "correct": correct,
                    "wall_s": time.time() - t_start})
        for name in ("result.json", "spans.json"):
            src = os.path.join(work, name)
            if os.path.exists(src):
                shutil.copy(src, out_dir)
        with open(os.path.join(out_dir, "summary.json"), "w") as f:
            json.dump(res, f, indent=1)
        if res["failures"]:
            log("failures: " + "; ".join(res["failures"][:10]))
        print(json.dumps({"weather": res["weather"], "window_s": res["window_s"],
                          "base_ingest_s": res["base_ingest_s"]}))
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
