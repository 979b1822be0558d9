#!/usr/bin/env python3
"""Month-close and catalogue benchmark.

    python3 perfbench/run.py --workload close_ref|catalogue --seed N --seconds S --trace 0|1

Run from the repository root. It builds the program from `src/main/scala`
and the harness from `perfbench/scala` with the Scala compiler that ships
in Spark's jars (into `.bench_build/`, or `$CARGO_TARGET_DIR`), generates
the inputs from the seed, runs one JVM with one `local[nproc]` Spark
session, compares the sampled queries' results with DuckDB through
`tools/check_oracles.py`, and prints one JSON result as its last line.
With `--trace 0` the result holds the end-to-end metrics, with `--trace 1`
the per-layer ledger. See perfbench/README.md.
"""
import argparse
import glob
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
sys.dont_write_bytecode = True
import gen_tables  # noqa: E402

WORKLOADS = ("close_ref", "catalogue")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler in {jars}")
    return os.path.join(jars, "*")


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_scala(sources, out, classpath, build_dir):
    """scalac `sources` into `out`, unless they are unchanged since the last build."""
    if not sources:
        raise SystemExit(f"nothing to compile for {out}")
    stamp = os.path.join(build_dir, os.path.basename(out) + ".stamp")
    key = digest(sources) + classpath
    if os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == key:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    log(f"compiling {len(sources)} sources into {os.path.relpath(out, ROOT)}")
    argfile = os.path.join(build_dir, os.path.basename(out) + ".args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources))
    subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", spark_jars(), "scala.tools.nsc.Main",
                    "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile], check=True)
    with open(stamp, "w") as fh:
        fh.write(key)


def build(build_dir):
    jars = spark_jars()
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    classes = os.path.join(build_dir, "classes")
    bench = os.path.join(build_dir, "bench")
    compile_scala(program, classes, jars, build_dir)
    compile_scala(harness, bench, f"{classes}:{jars}", build_dir)
    return f"{bench}:{classes}:{jars}"


def output_dir():
    d = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))
    os.makedirs(d, exist_ok=True)
    return d


def java(work, classpath, main_class):
    """The JVM command line for `main_class`, with its temp files under `work`."""
    return (["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp"] +
            [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-cp", classpath, main_class])


def oracle_check(out_dir, tables, names, cwd):
    """DuckDB runs each query's oracle SQL over the same parquet; returns the mismatches."""
    if not names:
        return []
    proc = subprocess.run([sys.executable, os.path.join(ROOT, "tools/check_oracles.py"),
                           out_dir, tables, ",".join(names)],
                          capture_output=True, text=True, cwd=cwd)
    ok = {line.split(":")[0] for line in proc.stdout.splitlines() if ": OK" in line}
    bad = [n for n in names if n not in ok]
    if bad:
        log(proc.stdout[-4000:] + proc.stderr[-4000:])
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    # a run is always one round of fixed work, sized to fill about 25 s of
    # calls on a 4-core host; a second round would not repeat the same work
    # (see README.md), so the run length is not a knob
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    out = output_dir()
    classpath = build(out)

    work = os.path.join(out, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        result = os.path.join(work, "result.json")
        cmd = java(work, classpath, "perfbench.Main") + [
            "--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace), "--work", work, "--result", result]
        # the close inputs are generated inside the JVM; the catalogue
        # tables here, and their time is part of set-up
        t0 = time.perf_counter()
        tables = os.path.join(work, "tables")
        if a.workload == "catalogue":
            gen_tables.write(tables, a.seed)
            cmd += ["--tables", tables]
        gen_s = time.perf_counter() - t0
        jvm_log = os.path.join(work, "jvm.log")
        with open(jvm_log, "w") as fh:
            rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work).returncode
        if rc != 0 or not os.path.exists(result):
            with open(jvm_log) as fh:
                log(fh.read()[-6000:])
            raise SystemExit(f"benchmark JVM exited with {rc}")
        with open(result) as fh:
            r = json.load(fh)

        wrong = list(r["wrong"])
        bad = oracle_check(os.path.join(work, "queries"), tables, r["queries_done"], work)
        wrong += [f"query {n} differs from its DuckDB oracle" for n in bad]

        print(f"workload {a.workload} seed {a.seed}: {r['summary']}")
        print(f"checks failed {len(wrong)}")
        for msg in r["failures"]:
            print(f"FAILED {msg}")
        for msg in wrong:
            print(f"WRONG {msg}")
        if a.trace:
            metrics = r["per_layer"]
        else:
            metrics = {"setup_s": {"value": gen_s + r["setup_jvm_s"], "unit": "s"}}
            metrics.update(r["end_to_end"])
        print(json.dumps({"correct": not wrong, "attempted": r["attempted"],
                          "failed": r["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
