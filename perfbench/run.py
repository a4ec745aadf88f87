#!/usr/bin/env python3
"""graft's benchmark: one command per workload, run from the repo root.

    python3 perfbench/run.py --workload vectordb|pipeline|serve \\
        --seed N --seconds S --trace 0|1

Builds the program from source (once per source state, into
.bench_build/), generates the workload's inputs from the seed, runs the
JVM harness (perfbench/harness) and prints, as the last line of
standard output, one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer counters, each layer's self time and the tracing
overhead, and the run's spans are written to
.bench_runs/<workload>-trace/spans.jsonl. The run's description (nproc,
load average, commit, seed, artifact state, phase times, per-operation
detail) goes to .bench_runs/<workload>[-trace]/metrics.json.

Every workload listed in BENCHMARK.json prints every metric declared
there, and the run fails if it prints one that is not declared or
misses one. A metric a workload cannot exercise reads 0 and is
per-layer only: the serving layers on vectordb, the index writes and
(measured over the serving steps) the Spark layers on serve.

--seconds: a batch workload runs timed passes until that much time has
passed (at least two). In a traced serve run the fixed-rate step lasts
that long and the rate ladder runs to its first confirmed miss; the
untraced serve run's open-loop step is every (endpoint, query) pair once
(6 x 500 = 3000 requests).

BENCHMARK.json lists vectordb and serve. `--workload pipeline` (the
training-data operators) runs the same way but is not listed: a third
workload's runs do not fit the benchmark's time budget.
`--workload selftest` runs one sound and two deliberately broken
operations and exits non-zero unless both broken ones are counted as
failed and untimed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

# leave no bytecode caches in the source tree
sys.dont_write_bytecode = True

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
RUNS = ROOT / ".bench_runs"
HARNESS = HERE / "harness"
# the program's sources and its oracle comparator: without them there is
# nothing to measure
REQUIRED = ["build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check.py"]

# inputs per workload: (documents, embeddings, held-out queries)
SIZES = {
    "vectordb": (1000, 1000, 0),
    "pipeline": (1000, 200, 0),
    "serve": (2000, 2000, 500),
    "selftest": (200, 200, 0),
}
# The serve corpus is the same for every seed, so its artifacts are built
# once per source state and reused (a set-up that builds them is left out
# of setup_s); the seed drives the held-out queries, the term bags and
# the arrival process.
SERVE_CORPUS_SEED = 20211
# set-ups per run; setup_s is their median
SETUP_REPS = {"vectordb": 3, "pipeline": 3, "serve": 3, "selftest": 3}
JVM_HEAP = "3g"
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(program_only: bool = False) -> str:
    """Hash of the sources a build (or, with program_only, the program's
    artifacts) depends on."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main"]
    if not program_only:
        roots += [HARNESS / "src", HARNESS / "build.sbt",
                  HARNESS / "project" / "build.properties"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build() -> str:
    """Compile the program and the harness; return the classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the harness")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, capture_output=True, text=True, timeout=800)
    (BUILD / "build.log").write_text(p.stdout + p.stderr)
    if p.returncode != 0:
        sys.exit(f"build failed, see {BUILD / 'build.log'}")
    cp = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")][-1]
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def commit() -> str:
    """The checked-out commit, when the tree is a git checkout."""
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "unknown (not a git checkout)"
    except (OSError, subprocess.SubprocessError):
        return "unknown (no git)"


def serve_corpus(stamp: str) -> Path:
    """The serve corpus and its artifact directory, made once per program
    source state, generator and sizes. Each state keeps its own directory,
    so trees that alternate between two source states stay warm."""
    import gen
    n_docs, n_vecs, _ = SIZES["serve"]
    key = f"{stamp} {hashlib.sha256((HERE / 'gen.py').read_bytes()).hexdigest()} " \
          f"{n_docs} {n_vecs} {SERVE_CORPUS_SEED}"
    corpus = RUNS / "serve-corpus" / hashlib.sha256(key.encode()).hexdigest()[:16]
    if (corpus / "key").is_file() and (corpus / "key").read_text() == key:
        return corpus
    shutil.rmtree(corpus, ignore_errors=True)
    (corpus / "data").mkdir(parents=True)
    gen.write(corpus / "data", SERVE_CORPUS_SEED, n_docs, n_vecs)
    # written last: a corpus without its key is incomplete and is remade
    (corpus / "key").write_text(key)
    return corpus


def run_jvm(cp: str, args, run_dir: Path, data: Path, artifacts: Path,
            queries: Path, cpus: int) -> dict:
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--data", str(data), "--out", str(run_dir),
            "--artifacts", str(artifacts), "--queries", str(queries),
            "--seconds", str(args.seconds), "--seed", str(args.seed),
            "--trace", str(args.trace), "--cpus", str(cpus),
            "--checker", str(HERE / "oracle.py"),
            "--setup-reps", str(SETUP_REPS[args.workload])]
    with open(run_dir / "jvm.log", "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=jlog, stderr=subprocess.STDOUT,
                                start_new_session=True)

        def stop(signum=None, frame=None):
            # the harness and the oracle it starts share one process group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            if signum is not None:
                sys.exit(f"stopped by signal {signum}")

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            stop()
            sys.exit(f"harness exceeded {DEADLINE_S} s (see {run_dir / 'jvm.log'})")
    if rc != 0:
        tail = (run_dir / "jvm.log").read_text()[-3000:]
        sys.exit(f"harness exited with {rc}:\n{tail}")
    return json.loads((run_dir / "result.json").read_text())


def check_declared(workload: str, kind: str, metrics: dict) -> None:
    """Exit non-zero unless a listed workload printed exactly the metrics
    BENCHMARK.json declares, each in its unit."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if workload not in {w["name"] for w in bench["workloads"]}:
        return
    want = {m["name"]: m["unit"] for m in bench[kind]}
    got = {k: v["unit"] for k, v in metrics.items()}
    if want != got:
        sys.exit(f"{workload} printed other {kind} metrics than BENCHMARK.json declares: "
                 f"missing {sorted(set(want) - set(got))}, "
                 f"undeclared {sorted(set(got) - set(want))}, "
                 f"unit differs {sorted(k for k in want.keys() & got.keys() if want[k] != got[k])}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [f for f in REQUIRED if not (ROOT / f).is_file()]
    if missing:
        sys.exit(f"program sources not found (missing {', '.join(missing)})")
    cp = build()

    run_dir = RUNS / (args.workload + ("-trace" if args.trace else ""))
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    sys.path.insert(0, str(HERE))
    import gen
    n_docs, n_vecs, n_q = SIZES[args.workload]
    queries = run_dir / "queries.parquet"
    if args.workload == "serve":
        corpus = serve_corpus(source_stamp(program_only=True))
        data, artifacts = corpus / "data", corpus / "artifacts"
        gen.write_queries(queries, args.seed, data / "embeddings.parquet", n_q)
    else:
        data, artifacts = run_dir / "data", run_dir / "artifacts"
        data.mkdir()
        gen.write(data, args.seed, n_docs, n_vecs)
        gen.write_truth(queries, data / "embeddings.parquet")

    cpus = os.cpu_count() or 4
    res = run_jvm(cp, args, run_dir, data, artifacts, queries, cpus)
    attempted, failed = res["attempted"], res["failed"]
    for e in res["errors"]:
        log(f"failure: {e}")
    rows = res["layer"] if args.trace else res["e2e"]
    metrics = {r["name"]: {"value": r["value"], "unit": r["unit"]} for r in rows}
    if not args.trace:
        metrics["ok_share"] = {"value": (attempted - failed) / attempted, "unit": "ratio"}
    else:
        metrics["failed_share"] = {"value": failed / attempted, "unit": "ratio"}
    run = dict(res["run"], workload=args.workload, commit=commit(),
               source_stamp=source_stamp()[:16],
               artifact_state=res["detail"].get("artifact_state"))
    log("run: " + json.dumps(run))
    (run_dir / "metrics.json").write_text(json.dumps(
        {"metrics": metrics, "run": run, "detail": res["detail"],
         "errors": res["errors"]}, indent=1))
    check_declared(args.workload, "per_layer" if args.trace else "end_to_end", metrics)
    if args.workload == "selftest":
        ops = res["detail"]["ops"]
        broken = ("selftest_throws", "selftest_wrong")
        ok = (all(ops[b]["status"] == "failed" and "wall_s" not in ops[b] for b in broken)
              and ops["v1_knn_cos"]["status"] == "ok" and failed >= 2)
        log(f"selftest: {'PASS' if ok else 'FAIL'}: ops={json.dumps(ops)}")
        if not ok:
            sys.exit(1)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
