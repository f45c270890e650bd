#!/usr/bin/env python3
"""End-to-end benchmark of the Lambda pipeline.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the engine together with the benchmark program (sbt, once per source
state), runs one workload in a fresh JVM under a private temp root that is
deleted at exit, checks the outputs, and prints every metric by name and
unit, then one JSON line: {"correct", "attempted", "failed", "metrics"}.
Workloads and metrics are described in perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(REPO, "src", "main", "scala")
BUILD = os.path.join(HERE, "target")
CLASSPATH = os.path.join(BUILD, "perfbench.classpath")
STAMP = os.path.join(BUILD, "perfbench.stamp")
WORKLOADS = ["daily_replay", "stream_hot"]
JAVA_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the launcher's
# JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt")])
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark with sbt unless this source state is built."""
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"engine sources not found at {os.path.relpath(ENGINE_SRC)}; "
                 "run from a full checkout")
    stamp = source_stamp()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    log("perfbench: building engine + benchmark (sbt compile)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        log(p.stdout[-4000:])
        sys.exit(f"build failed (sbt exit {p.returncode})")
    cp = [l for l in p.stdout.splitlines() if "scala-2.13" in l and os.pathsep in l]
    if not cp:
        log(p.stdout[-4000:])
        sys.exit("build produced no classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    with open(STAMP, "w") as f:
        f.write(stamp)


def run_java(args, root):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    heap = os.environ.get("SPARK_DRIVER_MEM", "3g")
    cmd = (["java", f"-Xmx{heap}", *ADD_OPENS,
            f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
            f"-Dderby.system.home={os.path.join(root, 'derby')}",
            "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
            "-cp", cp, "perfbench.Main", "--root", root] + args)
    os.makedirs(os.path.join(root, "tmp"))
    os.makedirs(os.path.join(root, "derby"))
    p = subprocess.Popen(cmd, cwd=root, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=JAVA_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"perfbench: benchmark JVM exceeded {JAVA_TIMEOUT_S} s")
        return 124
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


# ---- DuckDB oracle check of the query list (the engine's oracle SQL) ----

def norm(df):
    import datetime
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif df[c].dtype == object:
            sample = df[c].dropna()
            if len(sample) and isinstance(sample.iloc[0], datetime.date):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
            else:
                df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def frames_match(got, want):
    """None if equal (floats exactly, or equal after rounding to 6 places,
    the engine's gate tolerance), else the reason."""
    import pandas as pd
    g, w = norm(got), norm(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
        return None
    except AssertionError:
        pass
    for c in g.columns:
        if pd.api.types.is_float_dtype(g[c]):
            g[c], w[c] = g[c].round(6), w[c].round(6)
    try:
        pd.testing.assert_frame_equal(norm(g), norm(w), check_dtype=False, check_exact=True)
        return None
    except AssertionError as e:
        return str(e).splitlines()[0]


def perturbed(df):
    """The expected frame with one value changed (or one row added)."""
    import pandas as pd
    w = df.copy()
    for c in w.columns:
        if len(w) and (str(w[c].dtype).startswith(("int", "float", "Int"))):
            w.loc[w.index[0], c] = w[c].iloc[0] + 1
            return w
    if len(w):
        return w.iloc[list(range(len(w))) + [0]]
    return pd.DataFrame([[None] * len(w.columns)], columns=w.columns)


def oracle_check(out_dir):
    import duckdb
    import pandas as pd
    with open(os.path.join(out_dir, "tables_dir.txt")) as f:
        tables = f.read().strip()
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(tables, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    failures = []
    for name, sql in sorted(oracles.items()):
        try:
            got = pd.read_parquet(os.path.join(out_dir, name))
            want = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            failures.append(f"{name}: {type(e).__name__}: {e}")
            continue
        why = frames_match(got, want)
        if why:
            failures.append(f"{name}: {why}")
        elif frames_match(got, perturbed(want)) is None:
            failures.append(f"{name}: self-test: a perturbed oracle result passed")
    return len(oracles), failures


def check_names(workload, trace, metrics):
    """A workload listed in BENCHMARK.json must report exactly its metrics."""
    spec_path = os.path.join(REPO, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        return
    with open(spec_path) as f:
        spec = json.load(f)
    if workload not in [w["name"] for w in spec["workloads"]]:
        return
    want = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    if sorted(want) != sorted(metrics):
        sys.exit(f"metrics {sorted(metrics)} do not match BENCHMARK.json {sorted(want)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check that the input generators are deterministic")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    build()
    tmp_parent = os.path.join(HERE, ".tmp")
    os.makedirs(tmp_parent, exist_ok=True)
    root = tempfile.mkdtemp(prefix="run-", dir=tmp_parent)
    try:
        if a.selftest:
            sys.exit(run_java(["--selftest"], root))
        out = os.path.join(root, "report.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--out", out]
        if a.trace:
            args += ["--sidecar", os.path.join(HERE, "traces", f"{a.workload}-seed{a.seed}.jsonl")]
        code = run_java(args, root)
        if code != 0 or not os.path.exists(out):
            sys.exit(f"benchmark JVM failed (exit {code})")
        with open(out) as f:
            rep = json.load(f)
        oracle_dir = os.path.join(root, "oracle")
        if os.path.isdir(oracle_dir):
            n, failures = oracle_check(oracle_dir)
            rep["notes"].append(f"duckdb oracle: {n - len(failures)}/{n} queries match")
            rep["notes"].extend(f"CHECK FAILED queries.oracle {f}" for f in failures)
            rep["failed"] += len(failures)
            rep["correct"] = rep["correct"] and not failures
        check_names(a.workload, a.trace, rep["metrics"])
        for note in rep["notes"]:
            print(note)
        for k, m in rep["metrics"].items():
            print(f"{k} = {m['value']} {m['unit']}")
        print(json.dumps({k: rep[k] for k in ("correct", "attempted", "failed", "metrics")}))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
