#!/usr/bin/env python3
"""kbspark benchmark: one workload, one seed, one JSON result line.

    python3 kbbench/run.py --workload kb_build --seed 1 --seconds 12 --trace 0

Run from the repo root. The corpus, and a small warm-up corpus of the
same shape, are generated from ``--seed`` before anything is timed, and
the expected outputs are computed once per seed (cached under
``.bench_work/oracle``). One job process (``kbbench/job.py``) then sets
up a SparkSession at local[nproc / 2], the way ``spark-submit`` starts a
driver, runs one untimed warm-up job on the warm-up corpus, and runs
fresh jobs on the corpus: one, and more while the next would end within
``--seconds``.

``--trace 0`` prints the end-to-end metrics (``job_s`` is the median over
the jobs run); ``--trace 1`` runs one untraced job for reference and then
the traced composition, and prints the per-layer metrics. Every job's
output is checked against the oracle; the last stdout line is
``{"correct", "attempted", "failed", "metrics"}``, and the exit code is 1
when any check failed. The run record (inputs, environment, every job)
is written to ``.bench_work/last-<workload>-<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
#: the job process is killed after this long, so that a run ends within
#: 180 s; it starts no job that its last job's time says would end after
#: JOB_DEADLINE_S. A traced run takes about 100 s, 150 s when the host
#: is slow.
JOB_TIMEOUT_S = 165
JOB_DEADLINE_S = 130
#: documents in the warm-up corpus (the workload's shape, fewer docs)
WARM_DOCS = 40

#: corpus shape per workload (kbbench/gen.py make_corpus arguments)
WORKLOADS = {
    "kb_build": dict(n_docs=1000, words_per_doc=300, vocab_size=20_000,
                     zipf_a=1.2),
    "dedup": dict(n_docs=1000, words_per_doc=300, vocab_size=20_000,
                  dup_share=0.05, edit_share=0.05),
}

SPANS = ("corpus.dims", "corpus.pages", "extract.mentions", "extract.annotate",
         "triples.build", "lineage.run_stage", "catalog.write",
         "linking.spans", "linking.mine", "linking.dict", "linking.link",
         "textops.signature", "textops.candidates", "textops.verify")
#: spans that run Python workers (corpus.dims derives the vocabulary in
#: the JVM alone, so it has no Python time or Arrow bytes to report)
PYTHON_SPANS = ("corpus.pages", "extract.mentions", "extract.annotate")
MAX_TASK_SHARE_SPANS = ("corpus.dims", "corpus.pages", "extract.mentions",
                        "triples.build")


def _fail_setup(msg: str) -> None:
    print(f"kbbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _environment(cpus: int) -> dict:
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True,
                          text=True, check=False).stderr.splitlines()
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                         capture_output=True, text=True, check=False)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": f"local[{cpus}]",
        "pyspark": pyspark.__version__,
        "java": java[0] if java else "unknown",
        "git_sha": sha.stdout.strip() if sha.returncode == 0 else "unknown",
    }


def _expected(workload: str, seed: int, sf_dir: str, cpus: int) -> dict:
    from kbbench import oracle

    key = json.dumps(WORKLOADS[workload], sort_keys=True)
    path = os.path.join(WORK, "oracle", f"{workload}-{seed}.json")
    try:
        with open(path, encoding="utf-8") as f:
            cached = json.load(f)
        if cached["shape"] == key:
            return cached["expected"]
    except (OSError, ValueError, KeyError):
        pass
    exp = oracle.expected(workload, sf_dir, threads=cpus)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"shape": key, "expected": exp}, f)
    return exp


def _group_alive(pgid: int) -> bool:
    """Whether any live (non-zombie) process is in process group ``pgid``."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _end_group(proc: subprocess.Popen, graceful: bool) -> None:
    """Wait until the job's process group (job process, driver JVM,
    Python workers) has ended. After a clean exit the JVM gets 10 s to
    shut down on its own; then, or at once, the group is killed."""
    deadline = time.time() + (10 if graceful else 0)
    while time.time() < deadline and _group_alive(proc.pid):
        time.sleep(0.1)
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline and _group_alive(proc.pid):
        time.sleep(0.1)


def _run_child(workload: str, sf_dir: str, warm_dir: str, workdir: str,
               cpus: int, seconds: float, trace: bool) -> dict:
    """The job process; returns its record (``error`` on failure)."""
    os.makedirs(workdir, exist_ok=True)
    local_dirs = os.path.join(workdir, "spark-local")
    os.makedirs(local_dirs, exist_ok=True)
    out = os.path.join(workdir, "result.json")
    env = dict(os.environ)
    # Python workers import kbspark from the checkout, wherever it lives
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_LOCAL_DIRS"] = local_dirs
    cmd = [sys.executable, os.path.join(HERE, "job.py"),
           "--workload", workload, "--sf-dir", sf_dir, "--warm-dir", warm_dir,
           "--workdir", workdir, "--cpus", str(cpus),
           "--seconds", str(seconds), "--out", out]
    if trace:
        cmd.append("--trace")
    log_path = os.path.join(workdir, "job.log")
    with open(log_path, "w", encoding="utf-8") as log:
        code = None
        spawn = time.monotonic()
        proc = subprocess.Popen(
            cmd + ["--spawn-ts", repr(spawn),
                   "--deadline", repr(spawn + JOB_DEADLINE_S)],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            code = proc.wait(timeout=JOB_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            _end_group(proc, graceful=code == 0)
    if code == 0 and os.path.exists(out):
        with open(out, encoding="utf-8") as f:
            return json.load(f)
    with open(log_path, encoding="utf-8", errors="replace") as f:
        tail = f.read()[-3000:]
    print(f"kbbench: job process failed (exit {code}):\n{tail}",
          file=sys.stderr)
    return {"error": f"exit {code}"}


def _check(rec: dict, expected: dict) -> bool:
    if "error" in rec:
        return False
    bad = [k for k, v in expected.items() if rec["outputs"].get(k) != v]
    for k in bad:
        print(f"kbbench: output check failed for {k}: got "
              f"{rec['outputs'].get(k)}, expected {expected[k]}",
              file=sys.stderr)
    return not bad


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(rec: dict, docs: int) -> dict:
    job_s = statistics.median(j["job_s"] for j in rec["jobs"])
    return {
        "setup_s": _metric(rec["setup_s"], "s"),
        "job_s": _metric(job_s, "s"),
        "docs_per_s": _metric(docs / job_s, "docs/s"),
    }


def per_layer(traced: dict, untraced_job_s: float) -> dict:
    spans = {s["name"]: s for s in traced["spans"]}
    sm = traced["span_metrics"]
    out = {}
    for name in SPANS:
        s, m = spans[name], sm.get(name, {})
        out[f"{name}.busy_s"] = _metric(s["busy_s"], "s")
        out[f"{name}.cpu_s"] = _metric(m.get("cpu_ns", 0.0) / 1e9, "s")
        out[f"{name}.tasks"] = _metric(m.get("tasks", 0), "count")
        out[f"{name}.shuffle_mb"] = _metric(
            m.get("shuffle_bytes", 0.0) / 1e6, "MB")
        out[f"{name}.spill_mb"] = _metric(m.get("spill_bytes", 0.0) / 1e6,
                                          "MB")
        out[f"{name}.rows_out"] = _metric(s["rows_out"], "rows")
        if name in PYTHON_SPANS:
            out[f"{name}.python_s"] = _metric(
                m.get("python_ms", 0.0) / 1e3, "s")
            out[f"{name}.arrow_mb"] = _metric(
                m.get("arrow_bytes", 0.0) / 1e6, "MB")
        if name in MAX_TASK_SHARE_SPANS:
            share = m.get("max_task_ms", 0.0) / max(m.get("run_ms", 0.0), 1.0)
            out[f"{name}.max_task_share"] = _metric(share, "ratio")
    out["corpus.dims.probe_rows"] = _metric(spans["corpus.dims"]["probe_rows"],
                                            "rows")
    out["linking.link.candidates_per_span"] = _metric(
        spans["linking.link"]["candidates_per_span"], "ratio")
    out["textops.verify.kept_share"] = _metric(
        spans["textops.verify"]["kept_share"], "ratio")
    out["lineage.run_stage.commits"] = _metric(
        spans["lineage.run_stage"]["commits"], "count")
    out["catalog.write.mb"] = _metric(spans["catalog.write"]["mb"], "MB")
    own = sum(spans[n]["busy_s"] for n in traced["own_spans"])
    out["trace.overhead_s"] = _metric(own - untraced_job_s, "s")
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("kbspark/kb.py", "scripts/check_contract.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            _fail_setup(f"{need} not found under {ROOT}: run from a kbspark "
                        "checkout")
    sys.path.insert(0, ROOT)
    try:
        from kbbench import gen
        import kbspark.corpus
    except ImportError as e:
        _fail_setup(f"cannot import the program: {e}")

    # half the cores: the driver JVM's JIT and GC threads, the Python
    # workers' start-up and the parent get the other half, so the job does
    # not queue behind them
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    run_dir = os.path.join(
        WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    sf_dir = os.path.join(run_dir, "data")
    try:
        inputs = gen.make_corpus(sf_dir, args.seed, **WORKLOADS[args.workload])
        inputs["dim_collect_cap"] = kbspark.corpus.DIM_COLLECT_CAP
        warm_dir = os.path.join(run_dir, "warm")
        gen.make_corpus(warm_dir, args.seed,
                        **{**WORKLOADS[args.workload], "n_docs": WARM_DOCS})
        expected = _expected(args.workload, args.seed, sf_dir, cpus)

        rec = _run_child(args.workload, sf_dir, warm_dir,
                         os.path.join(run_dir, "job"), cpus, args.seconds,
                         trace=bool(args.trace))
        jobs = rec.get("jobs", [])
        traced = rec.get("traced")
        runs = jobs + ([traced] if traced else [])
        failed = sum(not _check(r, expected) for r in runs)
        if "error" in rec:
            runs, failed = [rec], 1
        metrics = {}
        if failed == 0 and args.trace:
            metrics = per_layer(traced, statistics.median(
                j["job_s"] for j in jobs))
        elif failed == 0:
            metrics = end_to_end(rec, inputs["docs"])
        record = {"workload": args.workload, "seed": args.seed,
                  "trace": args.trace, "inputs": inputs,
                  "environment": _environment(cpus), "expected": expected,
                  "setup_s": rec.get("setup_s"),
                  "warmup_s": rec.get("warmup_s"), "jobs": jobs,
                  "traced": traced, "metrics": metrics}
        os.makedirs(WORK, exist_ok=True)
        with open(os.path.join(
                WORK, f"last-{args.workload}-{args.trace}.json"), "w",
                encoding="utf-8") as f:
            json.dump(record, f, indent=1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({
        "inputs": inputs, "environment": record["environment"],
        "setup_s": record["setup_s"], "warmup_s": record["warmup_s"],
        "jobs": [{k: v for k, v in j.items() if k != "outputs"}
                 for j in jobs]}))
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0 and bool(metrics),
                      "attempted": len(runs), "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 and metrics else 1)


if __name__ == "__main__":
    main()
