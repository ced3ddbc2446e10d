"""The benchmark's job process, started the way ``spark-submit`` starts a
driver.

Started by ``run.py`` with the repo root on PYTHONPATH (so Python
workers can import kbspark) and SPARK_LOCAL_DIRS inside the work dir.
It sets up one SparkSession, runs one untimed warm-up job on a small
corpus of the workload's shape, then runs the timed jobs, each fresh
(memos, cached tables and the warehouse cleared before it), on the
workload's corpus. Writes one JSON record to ``--out``:

- ``setup_s``: from the parent's spawn time until the SparkSession is up
  and one Arrow Python-worker round-trip has run;
- ``warmup_s``: the warm-up job's time;
- ``jobs``: per job, the ``JobMeter`` record of the workload's public
  job entry point (``job_s``, the CPU time, steal time and peak RSS of
  this process's descendants: the driver JVM plus the Python workers)
  and the output digests for the check. Untraced, at least one job
  runs, and more while the next would end within ``--seconds``; traced,
  one job runs for reference;
- ``traced`` (``--trace``): the job re-composed from the modules' public
  functions in the entry point's order, one span per module layer, each
  span's output persisted and counted; then the remaining modules' spans
  on the same corpus, so every layer reports on every workload. Spark's
  event log is on, and span metrics are summed from it after the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DRIVER_MEMORY = "4g"
KB_SPANS = ("corpus.dims", "corpus.pages", "extract.mentions",
            "triples.build", "lineage.run_stage", "catalog.write")
TEXTOPS_SPANS = ("textops.signature", "textops.candidates", "textops.verify")
#: the spans that make up each workload's own job
OWN_SPANS = {"kb_build": KB_SPANS, "dedup": TEXTOPS_SPANS}


# ---------------------------------------------------------------------------
# memory: peak RSS of the process tree, read from /proc
# ---------------------------------------------------------------------------

def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, own and reaped children's) of
    ``root``'s descendants: the driver JVM and the Python workers."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def _steal_s() -> float:
    """CPU time the hypervisor took from this machine, all cores, in s."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _tree_rss_bytes(root: int) -> tuple[int, int]:
    """(JVM RSS, Python-worker RSS) of ``root``'s descendants, in bytes."""
    page = os.sysconf("SC_PAGE_SIZE")
    jvm = workers = 0
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/comm", encoding="ascii") as f:
                is_jvm = f.read().strip() == "java"
        except OSError:
            continue
        if is_jvm:
            jvm += rss
        else:
            workers += rss
    return jvm, workers


class JobMeter:
    """Measures one job: wall time, the CPU time of this process's
    descendants, the machine's steal time, and the descendants' peak RSS
    (total, JVM and worker parts), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.5):
        self.peak = self.jvm_peak = self.workers_peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        jvm, workers = _tree_rss_bytes(os.getpid())
        self.peak = max(self.peak, jvm + workers)
        self.jvm_peak = max(self.jvm_peak, jvm)
        self.workers_peak = max(self.workers_peak, workers)

    def _run(self):
        while not self._stop.wait(self._interval):
            self._sample()

    def __enter__(self):
        self._cpu0 = _tree_cpu_s(os.getpid())
        self._steal0 = _steal_s()
        self._thread.start()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.job_s = time.perf_counter() - self._t0
        self.cpu_s = _tree_cpu_s(os.getpid()) - self._cpu0
        self.steal_s = _steal_s() - self._steal0
        self._stop.set()
        self._thread.join()
        self._sample()

    def record(self) -> dict:
        return {"job_s": self.job_s, "job_cpu_s": self.cpu_s,
                "steal_s": self.steal_s,
                "peak_rss_mb": self.peak / 1e6,
                "jvm_peak_rss_mb": self.jvm_peak / 1e6,
                "workers_peak_rss_mb": self.workers_peak / 1e6}


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------

def _identity(batches):
    yield from batches


def setup(cpus: int, event_log_dir: str | None):
    from kbspark.session import get_spark

    extra = {"spark.ui.showConsoleProgress": "false"}
    if event_log_dir:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app="kbbench", cpus=cpus, driver_memory=DRIVER_MEMORY,
                      extra=extra)
    spark.range(1, numPartitions=1).mapInPandas(_identity, "id long").count()
    return spark


# ---------------------------------------------------------------------------
# untraced jobs: the public entry points
# ---------------------------------------------------------------------------

def _triples_digest(spark, warehouse: str) -> dict:
    """Digest of the KB ``triples`` table, as the kg_triples oracle sees it."""
    from kbbench.oracle import digest_pandas
    from kbspark.catalog import Catalog

    return digest_pandas(Catalog(spark, warehouse).read("triples").select(
        "subj", "pred", "obj", "n_occurrences").toPandas())


def run_job(spark, workload: str, sf_dir: str, warehouse: str,
            digests: bool = True) -> dict:
    """Run the workload's job under a JobMeter; return the meter's record,
    the output rows and (with ``digests``) the output digests."""
    from kbbench.oracle import digest_pandas

    if workload == "kb_build":
        from kbspark.kb import build_knowledge_base

        with JobMeter() as meter:
            res = build_knowledge_base(spark, sf_dir, warehouse)
        rec = {**meter.record(), "rows": res["tables"]["triples"]}
        if digests:
            rec["outputs"] = {"triples": _triples_digest(spark, warehouse)}
        return rec
    if workload == "dedup":
        from kbspark.jobs import dedup_job

        with JobMeter() as meter:
            out = {m: dedup_job(spark, sf_dir, method=m).toPandas()
                   for m in ("minhash-lsh", "simhash")}
        rec = {**meter.record(), "rows": sum(len(p) for p in out.values())}
        if digests:
            rec["outputs"] = {m: digest_pandas(p) for m, p in out.items()}
        return rec
    raise ValueError(f"unknown workload: {workload}")


# ---------------------------------------------------------------------------
# traced re-composition
# ---------------------------------------------------------------------------

def _persisted_count(df):
    df = df.persist()
    return df, df.count()


def trace_kb(spark, tr, sf_dir: str, warehouse: str) -> dict:
    """kb.build_knowledge_base, layer by layer (dictionary-sized dims)."""
    from pyspark.sql import functions as F

    from kbspark.apriori import attach_probs
    from kbspark.catalog import Catalog
    from kbspark.corpus import pages_from_documents, try_dims_from_documents
    from kbspark.extract import mention_stage
    from kbspark.lineage import run_stage
    from kbspark.triples import (
        entity_dim_df,
        entity_triples,
        mention_triples,
        redirect_alias_frame,
        redirect_triples,
    )

    cat = Catalog(spark, warehouse)
    with tr.span("corpus.dims") as s:
        dims = try_dims_from_documents(spark, sf_dir)
        if dims is None:
            raise RuntimeError("corpus vocabulary is over DIM_COLLECT_CAP; "
                               "the traced composition covers the dict path")
        et, rt = dims
        # on the dict path the probe collected the whole vocabulary
        s["rows_out"] = s["probe_rows"] = len(et)
    dim = entity_dim_df(spark, et)
    with tr.span("corpus.pages") as s:
        pages, s["rows_out"] = _persisted_count(
            pages_from_documents(spark, sf_dir))
    with tr.span("extract.mentions") as s:
        mentions, s["rows_out"] = _persisted_count(
            mention_stage(pages, spark, et, rt))
    with tr.span("triples.build") as s:
        mt, s["rows_out"] = _persisted_count(
            mention_triples(mentions, dim).select(
                "subj", "pred", "obj", "n_occurrences", "src_url",
                F.col("subj").alias("url")))
    with tr.span("lineage.run_stage") as s:
        # mention triples are keyed by their page url, so bucketing them
        # by url matches build_knowledge_base's page-keyed buckets
        st = run_stage(cat, "mention_triples", mt, lambda df: df,
                       output_table="triples_mentions", key_col="url")
        s["commits"] = st["commits"]
        s["rows_out"] = cat.row_count("triples_mentions")
    with tr.span("catalog.write") as s:
        links = cat.read("triples_mentions").select(
            F.col("obj").alias("QID"), "n_occurrences")
        ent = attach_probs(
            dim,
            links.join(F.broadcast(dim.select("QID", "page_title")), "QID")
            .select(F.col("page_title").alias("target"), "n_occurrences"),
            weight_col="n_occurrences", probs_hint="broadcast",
        )
        cat.overwrite("entities", ent.select(
            "page_title", "QID", "TYPE", "proba", "n_links"),
            meta={"stage": "entities"})
        own = dim.select(F.col("page_title").alias("alias"), "page_title",
                         "QID", "TYPE")
        red = redirect_alias_frame(spark, dim, redirect_targets=rt)
        cat.overwrite("aliases", own.unionByName(red).distinct(),
                      meta={"stage": "aliases"})
        cat.overwrite("sitelinks", cat.read("triples_mentions").select(
            F.col("obj").alias("QID"), F.col("src_url").alias("url"),
        ).distinct(), meta={"stage": "sitelinks"})
        cat.overwrite(
            "triples",
            cat.read("triples_mentions")
            .select("subj", "pred", "obj", "n_occurrences", "src_url")
            .unionByName(entity_triples(dim))
            .unionByName(redirect_triples(spark, rt)),
            meta={"stage": "triples"},
        )
        s["rows_out"] = cat.row_count("triples")
        s["mb"] = _dir_bytes(warehouse) / 1e6
    return {"pages": pages, "dims": dims, "dim": dim}


def trace_el(spark, tr, kb: dict) -> None:
    """jobs.entity_linking_job, layer by layer, over kb's pages and dims."""
    from pyspark.sql import functions as F

    from kbspark.extract import annotate_stage
    from kbspark.linking import (
        entity_context_profiles,
        link_entities,
        mention_spans_sql,
        mine_anchor_aliases,
    )
    from kbspark.triples import redirect_alias_frame

    et, rt = kb["dims"]
    dim = kb["dim"]
    with tr.span("extract.annotate") as s:
        tagged, s["rows_out"] = _persisted_count(
            annotate_stage(kb["pages"], spark, et, rt))
    with tr.span("linking.spans") as s:
        spans, n_spans = _persisted_count(mention_spans_sql(tagged))
        s["rows_out"] = n_spans
    with tr.span("linking.mine") as s:
        mined, s["rows_out"] = _persisted_count(mine_anchor_aliases(
            spans, dim, target_col="gt", max_targets_per_surface=8,
            dim_hint="broadcast"))
    with tr.span("linking.dict") as s:
        red = redirect_alias_frame(spark, dim, redirect_targets=rt,
                                   proba=0.0)
        own = dim.select(F.col("page_title").alias("alias"), "page_title",
                         "QID", "TYPE", F.lit(0.0).alias("proba"))
        aliases, s["rows_out"] = _persisted_count(
            own.unionByName(red).unionByName(mined)
            .groupBy("alias", "page_title", "QID", "TYPE")
            .agg(F.max("proba").alias("proba"))
            .withColumn("wikidata", F.col("QID")))
        profiles, _ = _persisted_count(entity_context_profiles(spans))
    with tr.span("linking.link") as s:
        _, n = _persisted_count(link_entities(
            spans, aliases, profiles=profiles, aliases_hint="auto"))
        s["rows_out"] = n
        s["candidates_per_span"] = n / max(n_spans, 1)


def trace_textops(spark, tr, sf_dir: str) -> dict:
    """jobs.dedup_job for minhash-lsh and simhash, layer by layer:
    signatures, candidate pairs with their scores, then the threshold."""
    from pyspark.sql import functions as F

    from kbspark.textops import (
        lsh_band_table,
        lsh_near_dup_pairs,
        shingles_from_words,
        simhash64,
        simhash_block_table,
        simhash_near_dups,
        words_table,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with tr.span("textops.signature") as s:
        words = words_table(docs)
        sh, _ = _persisted_count(shingles_from_words(words, n=3))
        bands, n_bands = _persisted_count(
            lsh_band_table(n_hashes=8, n_bands=2, shingles_df=sh))
        blocks, n_blocks = _persisted_count(
            simhash_block_table(simhash64(docs, words=words), n_blocks=4))
        s["rows_out"] = n_bands + n_blocks
    with tr.span("textops.candidates") as s:
        # open thresholds: every candidate pair, scored
        lsh_c, n_lsh = _persisted_count(lsh_near_dup_pairs(
            None, threshold=0.0, max_bucket=10_000, shingles_df=sh,
            bands=bands))
        sim_c, n_sim = _persisted_count(simhash_near_dups(
            None, max_hamming=64, max_bucket=10_000, blocks=blocks))
        s["rows_out"] = n_lsh + n_sim
    with tr.span("textops.verify") as s:
        # dedup_job's defaults: Jaccard >= 0.5, Hamming <= 3
        out = {
            "minhash-lsh": lsh_c.filter(F.col("jaccard") >= 0.5).toPandas(),
            "simhash": sim_c.filter(F.col("hamming") <= 3).toPandas(),
        }
        kept = sum(len(p) for p in out.values())
        s["rows_out"] = kept
        s["kept_share"] = kept / max(n_lsh + n_sim, 1)
    return out


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total


def run_traced(spark, tr, workload: str, sf_dir: str,
               warehouse: str) -> dict:
    """Own spans first, then the others."""
    from kbbench.oracle import digest_pandas

    if workload == "kb_build":
        kb = trace_kb(spark, tr, sf_dir, warehouse)
        outputs = {"triples": _triples_digest(spark, warehouse)}
        trace_el(spark, tr, kb)
        trace_textops(spark, tr, sf_dir)
    elif workload == "dedup":
        pairs = trace_textops(spark, tr, sf_dir)
        outputs = {m: digest_pandas(p) for m, p in pairs.items()}
        trace_el(spark, tr, trace_kb(spark, tr, sf_dir, warehouse))
    else:
        raise ValueError(f"unknown workload: {workload}")
    return {"outputs": outputs}


def _fresh_job(spark, workload: str, sf_dir: str, warehouse: str,
               digests: bool = True) -> dict:
    """One job as a new submission would run it: no memo, cached table or
    warehouse left over from an earlier job of this process."""
    from kbspark.session import reset_memos

    reset_memos()
    spark.catalog.clearCache()
    shutil.rmtree(warehouse, ignore_errors=True)
    rec = run_job(spark, workload, sf_dir, warehouse, digests)
    shutil.rmtree(warehouse, ignore_errors=True)
    return rec


def run_jobs(spark, workload: str, sf_dir: str, workdir: str, seconds: float,
             deadline: float) -> list[dict]:
    """Fresh jobs back to back: one, then more while the last job's time
    says the next one would end within ``seconds`` of the first one's
    start and before ``deadline``."""
    jobs: list[dict] = []
    start = time.monotonic()
    while not jobs or (time.monotonic() + jobs[-1]["job_s"]
                       <= min(start + seconds, deadline)):
        jobs.append(_fresh_job(spark, workload, sf_dir,
                               os.path.join(workdir, "warehouse")))
    return jobs


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--warm-dir", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--spawn-ts", type=float, required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--deadline", type=float, required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    event_dir = os.path.join(args.workdir, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
    spark = setup(args.cpus, event_dir)
    rec = {"setup_s": time.monotonic() - args.spawn_ts,
           "spark_version": spark.version}
    # warm-up: class loading, plan code generation and the JIT's first
    # passes happen here, not in a timed job
    rec["warmup_s"] = _fresh_job(
        spark, args.workload, args.warm_dir,
        os.path.join(args.workdir, "warehouse"), digests=False)["job_s"]
    if args.trace:
        from kbbench.trace import Tracer, span_metrics

        # the untraced reference job for trace.overhead_s: its jobs run
        # outside any span's job group, so the event log sums skip them
        rec["jobs"] = run_jobs(spark, args.workload, args.sf_dir,
                               args.workdir, 0, args.deadline)
        from kbspark.session import reset_memos

        reset_memos()
        spark.catalog.clearCache()
        tr = Tracer(spark, run_id=os.path.basename(args.workdir))
        rec["traced"] = run_traced(spark, tr, args.workload, args.sf_dir,
                                   os.path.join(args.workdir, "traced-wh"))
        spark.stop()  # flushes the event log
        rec["traced"]["spans"] = tr.records
        rec["traced"]["span_metrics"] = span_metrics(event_dir)
        rec["traced"]["own_spans"] = list(OWN_SPANS[args.workload])
    else:
        rec["jobs"] = run_jobs(spark, args.workload, args.sf_dir,
                               args.workdir, args.seconds, args.deadline)
        spark.stop()
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump(rec, f)


if __name__ == "__main__":
    main()
