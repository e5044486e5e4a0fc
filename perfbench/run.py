#!/usr/bin/env python3
"""Detection-pipeline and catalog benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds: it compiles the
engine (`src/main/scala`) together with the benchmark (`perfbench/src`)
with the Scala compiler in the Spark install's `jars` directory
(`$SPARK_HOME`, else the install `spark-submit` belongs to), then fits
the stand-in detector model. Later runs reuse both while the sources
are unchanged. Each run generates its seeded tables, runs one workload
in a fresh JVM and Spark session (`local[nproc]`), checks the outputs,
and prints one JSON result as the last line of stdout. The exit code is
0 only when every output check passed. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "src"


def _spark_home():
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    return Path(submit).resolve().parent.parent if submit else Path("spark-home-not-found")


SPARK_JARS = _spark_home() / "jars"
SCALA = "2.13.17"
JVM_TIMEOUT_S = 170
FIT_SEED = 42

sys.path.insert(0, str(HERE))
import gen  # noqa: E402

WORKLOADS = ("detect-flood", "catalog-mix")
DETECT_LAYERS = ("ingest.", "flow.", "ml.", "sink.", "stream.")
CATALOG_LAYERS = ("catalog.", "views.")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def sources():
    if not ENGINE_SRC.is_dir():
        die(f"engine sources not found at {ENGINE_SRC.relative_to(ROOT)}: "
            "run from the root of a full checkout")
    return sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def build():
    """Compiles engine + benchmark once per source state."""
    srcs = sources()
    h = hashlib.sha256(SCALA.encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = BUILD / "classes"
    if (classes / ".stamp").is_file() and (classes / ".stamp").read_text() == stamp:
        return classes
    compiler = [SPARK_JARS / f"scala-{j}-{SCALA}.jar" for j in ("compiler", "library", "reflect")]
    if not all(j.is_file() for j in compiler):
        die(f"Scala {SCALA} compiler jars not found under {SPARK_JARS}")
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    res = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(map(str, compiler)),
         "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{SPARK_JARS}/*",
         "-d", str(tmp), f"@{argfile}"],
        capture_output=True, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
        die("compile failed", 1)
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    log(f"compiled in {time.time() - t0:.1f}s")
    return classes


def fit_model(classes):
    """Fits the stand-in detector model once per build (graft.perfbench.FitModel)."""
    stamp = (classes / ".stamp").read_text()
    model = BUILD / "model"
    record = model / "fit.json"
    if record.is_file() and (model / ".stamp").read_text() == stamp:
        return model, json.loads(record.read_text())
    shutil.rmtree(model, ignore_errors=True)
    work = BUILD / "fit_run"
    shutil.rmtree(work, ignore_errors=True)
    gen.write(work / "sf0.01", 0.01, FIT_SEED, {"events"})
    log("fitting the stand-in model")
    model.mkdir(parents=True)
    code = run_jvm(java_cmd(classes, work, "graft.perfbench.FitModel",
                            [os.cpu_count() or 1, work / "sf0.01", model / "rf", work / "fit.json"]),
                   work, "fit")
    if code != 0:
        sys.stderr.write((work / "fit.log").read_text()[-6000:])
        die("stand-in model fit failed", 1)
    shutil.copy(work / "fit.json", record)
    (model / ".stamp").write_text(stamp)
    shutil.rmtree(work, ignore_errors=True)
    return model, json.loads(record.read_text())


JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def java_cmd(classes, run_dir, main, args):
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", *opens, "-XX:-UsePerfData", "-Xmx3g", "-Xss8m",
             "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
             f"-Dderby.system.home={run_dir / 'derby'}",
             "-cp", f"{classes}:{SPARK_JARS}/*", main] + [str(a) for a in args])


def run_jvm(cmd, run_dir, name):
    out = open(run_dir / f"{name}.log", "w")
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = -9
    out.close()
    return code


def make_inputs(workload, seed, data):
    gen.write(data / "sf0.01", 0.01, seed, None if workload == "catalog-mix" else {"events"})


def check_catalog(tables_dir, results_dir, oracles, names):
    """(checked, failures): each query's result against its oracle SQL by
    the engine's own oracle compare (tools/check.py); a query without
    oracle SQL only has to return rows."""
    sys.path.insert(0, str(ROOT / "tools"))
    import check
    con = check.connect(tables_dir)
    bad = []
    for name in names:
        got = Path(results_dir) / name
        try:
            if name in oracles:
                status, why = check.compare(con, oracles[name], got)
            else:
                n = con.execute(f"SELECT count(*) FROM parquet_scan('{got}/*.parquet')").fetchone()[0]
                status, why = ("PASS" if n else "FAIL"), f"rows-only: {n}"
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            status, why = "FAIL", f"compare error: {e}"
        if status != "PASS":
            bad.append(f"{name}: {why}")
    return len(names), bad


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def applies(workload, name):
    """Whether per-layer metric `name` is measured on `workload`."""
    if name.startswith(DETECT_LAYERS):
        return workload != "catalog-mix"
    if name.startswith(CATALOG_LAYERS):
        return workload == "catalog-mix"
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    bench = spec()
    classes = build()
    if a.selftest:
        run_dir = BUILD / "selftest"
        shutil.rmtree(run_dir, ignore_errors=True)
        run_dir.mkdir(parents=True)
        code = subprocess.run(java_cmd(classes, run_dir, "graft.perfbench.SelfTest", [])).returncode
        code |= subprocess.run([sys.executable, "-m", "unittest", "discover", "-s", "tests"],
                               cwd=HERE, env={**os.environ, "PYTHONPATH": str(HERE)}).returncode
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(1 if code else 0)
    if not a.workload:
        die("--workload is required")
    model, fit = fit_model(classes)

    run_dir = BUILD / "runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    data = run_dir / "data"
    data.mkdir(parents=True)
    make_inputs(a.workload, a.seed, data)
    out_json = run_dir / "result.json"
    code = run_jvm(java_cmd(classes, run_dir, "graft.perfbench.Main",
                            [a.workload, a.seed, a.seconds, a.trace, os.cpu_count() or 1,
                             data, model / "rf", fit["fit_ms"], out_json]), run_dir, "jvm")
    if not out_json.is_file():
        sys.stderr.write((run_dir / "jvm.log").read_text()[-6000:])
        die(f"benchmark JVM exited {code} without a result", 1)
    res = json.loads(out_json.read_text())
    attempted, failed = res["attempted"], res["failed"]
    failures = list(res["failures"])
    detail = res["detail"]
    detail["model_fit"] = fit
    if a.workload == "catalog-mix":
        n, bad = check_catalog(data / "sf0.01", Path(detail.pop("results_dir")),
                              detail.pop("oracles"), detail["queries"])
        attempted += n
        failed += len(bad)
        failures += bad
    if a.trace:
        trace_dir = BUILD / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        spans = trace_dir / f"{a.workload}-seed{a.seed}.json"
        spans.write_text(json.dumps(res["spans"]))
        detail["spans_file"] = str(spans.relative_to(ROOT))
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None and a.trace and not applies(a.workload, m["name"]):
            v = 0.0
        if v is None:
            failed += 1
            failures.append(f"metric {m['name']} was not measured")
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if code != 0 and failed == 0:
        failed, failures = 1, failures + [f"benchmark JVM exited {code}"]
    detail["error_rate"] = failed / max(attempted, 1)
    detail["failures"] = failures
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "detail": detail}, sort_keys=True))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
