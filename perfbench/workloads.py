"""The four workloads: how each runs one timed operation through the
engine's public entry points, how each checks that operation's output,
and which layer calls each wraps in a traced run.

An *operation* is one ``job.run_extract`` / ``job.run_crawl`` call into a
fresh table root, or one registered query written to a noop sink.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrameWriter, Observation, functions as F

from tuatara_spark import engine, job, partitioning as pt, session
from tuatara_spark import fixtures as fx, queries as Q, verifier
from tuatara_spark import weights as wt
from tuatara_spark.catalog import Catalog
from tuatara_spark.ops import dedup, encoding, htmlx
from tuatara_spark.ref import pipeline as pl
from tuatara_spark.sources import warc as W

from tracing import group_status, median

GROUPS = 4
CORPUS_QUERIES = ("minhash_lsh_pairs", "simhash_pairs", "tier_extract_docs",
                  "lm_tier_docs", "langid_docs", "exact_substr_docs",
                  "winnow_docs", "hits_hosts", "segment_dedup_docs",
                  "bpe_encode_docs", "dedup_exact_groups",
                  "quality_score_documents")


def dir_bytes(root: str) -> tuple[int, int]:
    """(files, bytes) under ``root``."""
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def _catalog_consistent(cat: Catalog) -> bool:
    """Catalog.totals() equals the sum of the per-bucket manifests."""
    summed: dict[str, int] = {}
    for snap in cat.snapshots():
        for m in cat.manifests_for(snap["snapshot_id"]):
            for k, v in m["counters"].items():
                summed[k] = summed.get(k, 0) + v
    totals = cat.totals()
    return all(summed.get(k, 0) == v for k, v in totals.items())


class Workload:
    """One workload over generated inputs in ``data_dir``."""

    name = ""

    def __init__(self, data_dir: str, props: dict, work: str, seed: int):
        self.data_dir = data_dir
        self.input = os.path.join(data_dir, "input")
        self.warm_input = os.path.join(data_dir, "warmup")
        self.props = props
        self.work = work
        self.seed = seed
        with open(os.path.join(data_dir, "truth.json")) as f:
            self.truth = json.load(f)

    def root(self, tag: str) -> str:
        return os.path.join(self.work, "out", f"{self.name}-{tag}")

    def units(self) -> int:
        """Pages (or docs) one operation delivers, for pages_per_s."""
        raise NotImplementedError

    def warmup(self, spark) -> dict:
        """The untimed cold run; returns its result, which is checked like
        a timed one."""
        raise NotImplementedError

    def op(self, spark, i: int) -> dict:
        """Run timed operation ``i``; returns what ``check`` needs."""
        raise NotImplementedError

    def check(self, spark, res: dict) -> list[str]:
        """Failure messages for one operation's output (empty = correct)."""
        raise NotImplementedError

    def verify(self, spark) -> list[str]:
        """Checks made once per run after the timed loop (empty = all
        correct); the job workloads check everything per operation."""
        return []

    def stored(self, res: dict) -> tuple[int, int]:
        """(files, bytes) the operation stored."""
        return dir_bytes(res["root"])

    def cleanup(self, res: dict) -> None:
        shutil.rmtree(res["root"], ignore_errors=True)

    def wrap_layers(self, tracer) -> None:
        """Install span wrappers around this workload's layer calls."""

    def layer_metrics(self, spark, tracer, traced_ops: list[dict]) -> dict:
        return {}


# -- the two jobs ------------------------------------------------------------

class JobWorkload(Workload):
    """One ``job.<entry>`` call with GROUPS snapshot groups into a fresh
    table root; traced runs wrap its writes, counters and catalog calls."""

    entry = ""       # job.run_extract | job.run_crawl
    counters = ""    # the job's per-bucket counter function

    def warmup(self, spark) -> dict:
        """The job over the small warm-up input (same kinds of rows) in one
        group: further groups rerun the same plans and add set-up time
        (about 2.5 s) rather than warming."""
        return self._run(spark, "warm", self.warm_input, self.truth["warmup"],
                         groups=1)

    def op(self, spark, i: int) -> dict:
        return self._run(spark, str(i), self.input, self.truth)

    def _run(self, spark, tag: str, path: str, truth: dict,
             groups: int = GROUPS) -> dict:
        root = self.root(tag)
        shutil.rmtree(root, ignore_errors=True)
        summary = getattr(job, self.entry)(spark, path, root, groups=groups)
        return {"root": root, "pages": summary["totals"]["pages"],
                "input": path, "truth": truth}

    def wrap_layers(self, tracer) -> None:
        tracer.wrap(DataFrameWriter, "parquet", "job.write")
        tracer.wrap(job, self.counters, "job.counters")
        for m in CATALOG:
            tracer.wrap(Catalog, m, f"catalog.{m}")

    def layer_metrics(self, spark, tracer, traced_ops: list[dict]) -> dict:
        """Per-job medians of the write, counters and catalog spans."""
        per: dict[str, list[float]] = {}
        for res in traced_ops:
            sp = res["span"]
            vals = {"job.write_s": tracer.total("job.write", sp),
                    "job.counters_s": tracer.total("job.counters", sp),
                    "job.groups": tracer.n("catalog.new_run", sp),
                    "job.self_s": tracer.self_time(sp),
                    "catalog.files_written": res["files"],
                    "catalog.bytes_written": res["bytes"]}
            for m in CATALOG:
                vals[f"catalog.{m}_s"] = tracer.total(f"catalog.{m}", sp)
            for k, v in vals.items():
                per.setdefault(k, []).append(v)
        return {k: median(v) for k, v in per.items()}


CATALOG = ("pin_table_config", "committed_buckets", "new_run", "commit")


class OcrJob(JobWorkload):
    name = "ocr_pages"
    entry, counters = "run_extract", "_bucket_counters"

    def units(self) -> int:
        return self.props["rows"]

    def check(self, spark, res: dict) -> list[str]:
        cat = Catalog(res["root"])
        rows = {r.url: r for r in cat.read_table(spark)
                .select("url", "text", "error").collect()}
        text, poison = res["truth"]["text"], set(res["truth"]["poison"])
        bad = []
        if set(rows) != set(text) | poison:
            bad.append(f"committed urls differ: {len(rows)} rows vs "
                       f"{len(text) + len(poison)} generated")
        wrong = [u for u, t in text.items()
                 if u in rows and (rows[u].text != t
                                   or rows[u].error is not None)]
        if wrong:
            bad.append(f"{len(wrong)} pages differ from ground truth")
        errs = {u for u, r in rows.items() if r.error is not None}
        if errs != poison:
            bad.append(f"error rows {len(errs)} != poison rows {len(poison)}")
        if not _catalog_consistent(cat):
            bad.append("Catalog.totals() != sum of manifests")
        if res.get("sample"):
            bad += self._oracle_sample(rows, res)
        return bad

    def _oracle_sample(self, rows: dict, res: dict) -> list[str]:
        """A seeded sample of committed pages equals ref.pipeline's
        single-page extraction byte for byte."""
        rng = np.random.default_rng(self.seed)
        urls = sorted(res["truth"]["text"])
        pick = {urls[int(j)] for j in rng.choice(len(urls), 3, replace=False)}
        tbl = pq.read_table(res["input"], columns=["url", "html"])
        w = wt.build_weights(42)
        bad = []
        for u, h in zip(tbl.column("url").to_pylist(),
                        tbl.column("html").to_pylist()):
            if u in pick:
                ref = pl.extract_page(fx.decode_payload(h), w)["text"]
                if ref.encode() != (rows[u].text or "").encode():
                    bad.append(f"oracle sample differs at {u}")
        return bad

    def layer_metrics(self, spark, tracer, traced_ops: list[dict]) -> dict:
        out = super().layer_metrics(spark, tracer, traced_ops)
        out.update(replay_extractor(self.input, tracer))
        out.update(partition_probe(spark, self.input, tracer))
        return out


class OcrSkew(OcrJob):
    name = "ocr_skew"


_PIPELINE = ("detect_pages", "crop_regions", "crops_to_ink", "recognize_ink",
             "assemble_reading_order")


def replay_extractor(input_dir: str, tracer) -> dict:
    """In-process replay of engine.make_extractor over the workload's own
    pages as Arrow batches of session.ARROW_BATCH_ROWS rows, with spans
    around each ref.pipeline stage and the payload decode fallback."""
    tbl = pq.read_table(input_dir, columns=["url", "warc_ts", "lang",
                                            "html"]).combine_chunks()
    batches = tbl.to_batches(max_chunksize=session.ARROW_BATCH_ROWS)
    fn = engine.make_extractor(wt.build_weights(42),
                               ["url", "warc_ts", "lang"])
    for stage in _PIPELINE:
        counter = None
        if stage == "crop_regions":
            counter = lambda out, t: t.count("ref.pipeline.regions", len(out))
        elif stage == "assemble_reading_order":
            counter = lambda out, t: t.count("ref.pipeline.chars", len(out))
        tracer.wrap(pl, stage, f"ref.pipeline.{stage}", counter=counter)
    tracer.wrap(fx, "decode_payload", "fixtures.decode_payload")
    out_bytes = errors = 0
    tracer.counts["ref.pipeline.regions"] = 0
    tracer.counts["ref.pipeline.chars"] = 0
    try:
        with tracer.span("engine.replay") as top:
            it = fn(iter(batches))
            while True:
                with tracer.span("engine.batch"):
                    try:
                        ob = next(it)
                    except StopIteration:
                        break
                out_bytes += ob.nbytes
                errors += ob.num_rows - ob.column("error").null_count
    finally:
        tracer.unwrap_all()
    res = {f"ref.pipeline.{s}_s": tracer.total(f"ref.pipeline.{s}", top)
           for s in _PIPELINE}
    res["fixtures.decode_payload_s"] = tracer.total("fixtures.decode_payload",
                                                    top)
    res["ref.pipeline.regions"] = tracer.counts["ref.pipeline.regions"]
    res["ref.pipeline.chars"] = tracer.counts["ref.pipeline.chars"]
    udf = tracer.total("engine.batch", top)
    res["engine.self_s"] = udf - sum(res[f"ref.pipeline.{s}_s"]
                                     for s in _PIPELINE) \
        - res["fixtures.decode_payload_s"]
    res["engine.udf_s_per_page"] = udf / max(1, tbl.num_rows)
    res["engine.arrow_in_bytes"] = sum(b.nbytes for b in batches)
    res["engine.arrow_out_bytes"] = out_bytes
    res["engine.batches"] = len(batches)
    res["engine.error_rows"] = errors
    return res


def partition_probe(spark, input_dir: str, tracer) -> dict:
    """The job's bucket → salt → distribute shuffle over all pages, timed
    to a noop sink, and its physical partition sizes via
    spark_partition_id."""
    pages = pt.with_salt(pt.with_bucket(spark.read.parquet(input_dir)))
    dist = pt.distribute(pages, spark.sparkContext.defaultParallelism * 2)
    with tracer.span("partitioning.shuffle") as sp:
        dist.write.format("noop").mode("overwrite").save()
    parts = (dist.withColumn("pid", F.spark_partition_id()).groupBy("pid")
             .agg(F.count("*").alias("rows"),
                  F.sum(F.coalesce(F.length("html"), F.lit(0)))
                  .alias("bytes")).collect())
    heavy = pages.where(F.length("html") > pt.DEFAULT_HEAVY_BYTES).count()
    sizes = [int(r.bytes) for r in parts]
    return {"partitioning.heavy_rows": heavy,
            "partitioning.shuffle_s": sp["end"] - sp["start"],
            "partitioning.max_partition_bytes": max(sizes),
            "partitioning.median_partition_bytes": median(sizes),
            "partitioning.max_partition_rows": max(int(r.rows)
                                                   for r in parts)}


class WarcCrawl(JobWorkload):
    name = "warc_crawl"
    entry, counters = "run_crawl", "_crawl_counters"

    def units(self) -> int:
        return len(self.truth["main_text"])

    def check(self, spark, res: dict) -> list[str]:
        cat = Catalog(res["root"])
        rows = {r.url: r for r in cat.read_table(spark)
                .select("url", "main_text", "charset").collect()}
        truth = res["truth"]
        want, cs = truth["main_text"], truth["charset"]
        bad = []
        if set(rows) != set(want):
            bad.append(f"committed urls differ: {len(rows)} vs {len(want)}")
        if set(rows) & set(truth["corrupt"]):
            bad.append("corrupt records were committed")
        wrong = [u for u in want if u in rows
                 and (rows[u].main_text != want[u] or rows[u].charset != cs[u])]
        if wrong:
            bad.append(f"{len(wrong)} pages differ from ground truth")
        if cat.totals().get("pages") != len(want):
            bad.append("Catalog.totals() page count != generated pages")
        if not _catalog_consistent(cat):
            bad.append("Catalog.totals() != sum of manifests")
        res["non_utf8"] = sum(1 for r in rows.values()
                              if r.charset not in (encoding.UTF8,
                                                   encoding.UTF8_BOM))
        return bad

    def layer_metrics(self, spark, tracer, traced_ops: list[dict]) -> dict:
        out = super().layer_metrics(spark, tracer, traced_ops)
        out["ops.encoding.non_utf8_rows"] = traced_ops[0].get("non_utf8", 0)
        # in-process parse of every container
        records = errors = 0
        with tracer.span("sources.warc.parse_all") as top:
            for name in sorted(os.listdir(self.input)):
                with open(os.path.join(self.input, name), "rb") as f:
                    data = f.read()
                with tracer.span("sources.warc.warc_rows"):
                    rows = W.warc_rows(data, source=name)
                records += len(rows)
                errors += sum(1 for r in rows if r["error"])
        out["sources.warc.warc_rows_s"] = tracer.total(
            "sources.warc.warc_rows", top)
        out["sources.warc.records"] = records
        out["sources.warc.error_records"] = errors
        # prefix differences of noop-sink runs: read → +decode → +strip
        recs = W.read_warc(spark, self.input)
        decoded = encoding.sniff_decode(recs.where(F.col("error") == ""))
        stripped = htmlx.strip_boilerplate(decoded, col="text")
        prev = 0.0
        for name, df in (("sources.warc.read_warc", recs),
                         ("ops.encoding.sniff_decode", decoded),
                         ("ops.htmlx.strip_boilerplate", stripped)):
            with tracer.span(name) as sp:
                df.write.format("noop").mode("overwrite").save()
            out[f"{name}_s"] = sp["end"] - sp["start"] - prev
            prev = sp["end"] - sp["start"]
        return out


# -- corpus query mix ------------------------------------------------------------

def _hash_cols(df):
    """Order-independent output digest: row count, XOR and modular sum of
    per-row xxhash64 over every column."""
    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    return (F.count(F.lit(1)).alias("rows"), F.bit_xor(h).alias("xor"),
            F.sum(F.pmod(h, F.lit(2147483647))).alias("sum"))


def _observed(fn, obs: Observation):
    def run(spark, sf_dir):
        df = fn(spark, sf_dir)
        return df.observe(obs, *_hash_cols(df))
    return run


class CorpusMix(Workload):
    """The 12 registered queries over the generated documents table, each
    written to a noop sink, with an order-independent digest of each
    query's output collected during the same action. The warm-up pass's
    digests are the reference every timed pass must reproduce; after the
    timed loop, the verified pass (``verify``) compares every query with
    its DuckDB oracle (verifier.compare_query) and checks that the output
    it compared has the reference digest too."""

    name = "corpus_mix"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.digests: dict[str, dict] = {}

    def units(self) -> int:
        return self.props["docs"]

    def warmup(self, spark) -> dict:
        """The cold pass, from defaultParallelism client threads at once:
        one after another the 12 cold queries take about 35 s, most of it
        per-plan cold start, and every run pays it. Cached intermediates
        are released once all have finished, since release_caches is
        global."""
        def cold(name: str) -> tuple[str, dict]:
            obs = Observation(f"warm-{name}")
            df = Q.REGISTRY[name][0](spark, self.input)
            df.observe(obs, *_hash_cols(df)).write.format("noop") \
                .mode("overwrite").save()
            return name, obs.get

        threads = spark.sparkContext.defaultParallelism
        try:
            with ThreadPoolExecutor(threads) as ex:
                self.digests = dict(ex.map(cold, CORPUS_QUERIES))
        finally:
            dedup.release_caches()
        return {"root": None, "pages": self.units(), "digests": self.digests}

    def op(self, spark, i: int) -> dict:
        """One pass of the 12 queries, each under its own job group;
        per-query times, Spark status and output digests."""
        sc = spark.sparkContext
        times, got, status, groups = {}, {}, {}, []
        for name in CORPUS_QUERIES:
            group = f"pb-{i}-{name}"
            groups.append(group)
            sc.setJobGroup(group, name)
            obs = Observation(f"q{i}-{name}")
            t0 = time.perf_counter()
            df = Q.REGISTRY[name][0](spark, self.input)
            df.observe(obs, *_hash_cols(df)).write.format("noop") \
                .mode("overwrite").save()
            times[name] = time.perf_counter() - t0
            dedup.release_caches()
            got[name] = obs.get
            status[name] = group_status(sc, group)
        return {"root": None, "pages": self.units(), "times": times,
                "digests": got, "status": status, "groups": groups}

    def check(self, spark, res: dict) -> list[str]:
        return [f"{n}: output digest differs from the warm-up pass"
                for n, d in res["digests"].items() if d != self.digests[n]]

    def verify(self, spark) -> list[str]:
        """The verified pass: each query that has an oracle (all but
        minhash_lsh_pairs and simhash_pairs) through
        verifier.compare_query, recording the digest of exactly the output
        it compared. It runs after the timed loop, so the oracle's own
        memory (DuckDB, pandas) stays out of the timed operations' peak,
        and from several client threads, since Spark is warm by then."""
        def one(name: str) -> list[str]:
            fn, sql = Q.REGISTRY[name]
            obs = Observation(f"verify-{name}")
            Q.REGISTRY[name] = (_observed(fn, obs), sql)
            try:
                r = verifier.compare_query(spark, name, self.input)
            finally:
                Q.REGISTRY[name] = (fn, sql)
            bad = [] if r["match"] else [
                f"{name}: differs from its oracle {r['detail']}"]
            if obs.get != self.digests[name]:
                bad.append(f"{name}: verified output digest differs from "
                           "the timed passes'")
            return bad

        names = [n for n in CORPUS_QUERIES if Q.REGISTRY[n][1] is not None]
        threads = spark.sparkContext.defaultParallelism
        try:
            with ThreadPoolExecutor(threads) as ex:
                return [b for bad in ex.map(one, names) for b in bad]
        finally:
            dedup.release_caches()

    def stored(self, res: dict) -> tuple[int, int]:
        # noop sinks store nothing: the stored table is the corpus itself
        return 1, os.path.getsize(os.path.join(self.input,
                                               "documents.parquet"))

    def cleanup(self, res: dict) -> None:
        pass

    def layer_metrics(self, spark, tracer, traced_ops: list[dict]) -> dict:
        out = {}
        for name in CORPUS_QUERIES:
            out[f"query.{name}.s"] = median(r["times"][name]
                                            for r in traced_ops)
            out[f"query.{name}.spark_jobs"] = median(
                r["status"][name]["jobs"] for r in traced_ops)
        return out


WORKLOADS = {w.name: w for w in (OcrJob, OcrSkew, WarcCrawl, CorpusMix)}
