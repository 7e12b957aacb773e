"""The benchmark's workloads.

Each workload generates its inputs from the seed, prepares what it
needs, runs an untimed check rep that verifies every result, and then
exposes one fixed list of operations per pass. An operation's
``run()`` is the only code inside a timed region; everything it returns
is verified afterwards against the check rep's result.

- ``Ingest``: the write path, one ``pipeline.run_pipeline`` batch per
  subreddit into a fresh lake per pass.
- ``Query``: the read path, the 15 ``analysis.sql`` queries plus
  ``Engine.data_quality()`` over a prepared lake, then the nine document
  and embedding curation queries through ``harness.registry()``.
"""

from __future__ import annotations

import functools
import importlib.util
import math
import os
import random
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, FloatType, IntegerType, LongType, StringType, StructField,
    StructType,
)

import gen
import spans as tr

from reddit_etl_spark import pipeline as pipeline_mod
from reddit_etl_spark import stats as stats_mod
from reddit_etl_spark.analysis_sql import ANALYSIS_QUERIES
from reddit_etl_spark.engine import Engine
from reddit_etl_spark.sinks.writers import append_parquet
from reddit_etl_spark.sources.reddit import MockRedditSource, comments_df, posts_df
from reddit_etl_spark.transform import transform_posts

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def oracle_rules():
    """``tools/check_oracle.py`` as a module: its canonical value hash is
    the rule the curation results are checked by."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def lake_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's marker and checksum
    files are not data."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


@dataclass
class Op:
    """One timed operation. ``layer`` names the span around the package
    call. A query operation also has ``build``, which returns the
    DataFrame ``run`` collects, so a traced pass can time the build,
    Catalyst and execution apart."""

    name: str
    layer: str
    run: Callable[[], Any]
    build: Callable[[], Any] | None = None


def query_op(name: str, layer: str, build) -> Op:
    def run():
        df = build()
        return df, df.collect()

    return Op(name, layer, run, build)


class Ingest:
    """Each pass runs ``run_pipeline`` once per subreddit into a fresh
    lake: 50 posts, comments for the top 10 (20 each), the stats upsert."""

    name = "ingest"
    SUBREDDITS = 6
    #: untimed passes after the check rep: the JVM is still compiling the
    #: write path then, and the first timed pass ran up to a quarter
    #: slower than the second (README: "Run structure")
    WARM_PASSES = 1
    POSTS_LIMIT = 50
    TOP_N = 10
    COMMENTS_LIMIT = 20

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.work = work
        rng = random.Random(seed)
        self.subs = gen.subreddit_names(self.SUBREDDITS)
        # every subreddit holds more than posts_limit posts and every
        # post more than comments_limit comments: all batches are full
        posts = gen.posts(rng, self.subs, self.POSTS_LIMIT + 10, days=3)
        comments = gen.comments(rng, posts, self.COMMENTS_LIMIT + 4)
        self.source = MockRedditSource(posts, comments)
        self.expected = {s: self._expected_stats(posts, s) for s in self.subs}
        self.lake_rows = self.SUBREDDITS * (
            self.POSTS_LIMIT + self.TOP_N * self.COMMENTS_LIMIT
        ) + sum(len(v) for v in self.expected.values())
        self.lake_bytes: list[int] = []
        self.last_lake = ""

    def _expected_stats(self, posts: list[dict], sub: str) -> dict:
        """The daily stats aggregate recomputed in plain Python over the
        batch the pipeline fetches (the first ``posts_limit`` posts)."""
        batch = [p for p in posts if p["subreddit"] == sub][: self.POSTS_LIMIT]
        by_day = defaultdict(list)
        for p in batch:
            by_day[p["created_utc"].date()].append(p)
        return {
            (sub, day): (
                len(ps),
                sum(p["score"] for p in ps) / len(ps),
                sum(p["num_comments"] for p in ps) / len(ps),
                max(p["score"] for p in ps),
            )
            for day, ps in by_day.items()
        }

    def _paths(self, lake: str) -> tuple[str, str, str]:
        return f"{lake}/posts", f"{lake}/comments", f"{lake}/stats"

    def begin_pass(self, k: int) -> list[Op]:
        lake = os.path.join(self.work, f"lake{k}")
        shutil.rmtree(lake, ignore_errors=True)
        self.last_lake = lake
        paths = self._paths(lake)

        def batch(sub):
            return lambda: pipeline_mod.run_pipeline(
                self.spark, self.source, [sub], *paths,
                posts_limit=self.POSTS_LIMIT,
                top_n_for_comments=self.TOP_N,
                comments_limit=self.COMMENTS_LIMIT,
            )[0]

        return [Op(s, "pipeline", batch(s)) for s in self.subs]

    def end_pass(self, k: int) -> None:
        if k > 0:
            self.lake_bytes.append(lake_size(self.last_lake)[1])
        shutil.rmtree(self.last_lake, ignore_errors=True)

    def fingerprint(self, res) -> tuple:
        return (
            tuple(res.errors), res.posts_loaded, res.comments_loaded,
            res.stats_rows,
        )

    def reference(self, name: str) -> tuple:
        return (
            (), self.POSTS_LIMIT, self.TOP_N * self.COMMENTS_LIMIT,
            len(self.expected[name]),
        )

    def check(self, results: dict[str, Any]) -> list[str]:
        """Deep checks of the check rep's lake (``self.last_lake``)."""
        bad = [
            f"{name}: {self.fingerprint(r)}"
            for name, r in results.items()
            if self.fingerprint(r) != self.reference(name)
        ]
        posts_p, comments_p, stats_p = self._paths(self.last_lake)
        read = self.spark.read.parquet
        n_posts = read(posts_p).count()
        n_comments = read(comments_p).count()
        if n_posts != len(results) * self.POSTS_LIMIT:
            bad.append(f"lake posts {n_posts}")
        if n_comments != len(results) * self.TOP_N * self.COMMENTS_LIMIT:
            bad.append(f"lake comments {n_comments}")
        want = {}
        for sub in results:
            want.update(self.expected[sub])
        got = {
            (r.subreddit, r.date): (
                r.total_posts, r.avg_score, r.avg_comments, r.top_post_score
            )
            for r in read(stats_p).collect()
        }
        if set(got) != set(want):
            bad.append(f"stats keys {len(got)} != {len(want)}")
        for key in set(got) & set(want):
            g, w = got[key], want[key]
            if g[0] != w[0] or g[3] != w[3] or not all(
                math.isclose(a, b, rel_tol=1e-12) for a, b in zip(g[1:3], w[1:3])
            ):
                bad.append(f"stats {key}: {g} != {w}")
        report = Engine(self.spark, posts_p, comments_p).data_quality().collect()
        bad += [f"dq {r.check}: {r.violations}" for r in report if r.violations]
        return bad

    def trace_targets(self, t: tr.Tracer) -> list:
        def rows(args, s):
            s.counters["rows"] = s.counters.get("rows", 0) + len(args[1])

        pm = pipeline_mod
        return [
            (pm, "posts_df", t.wrap(pm.posts_df, "sources", rows)),
            (pm, "comments_df", t.wrap(pm.comments_df, "sources", rows)),
            (pm, "transform_posts", t.wrap(pm.transform_posts, "transform")),
            (pm, "append_parquet", t.wrap(pm.append_parquet, "sinks")),
            (pm, "daily_subreddit_stats",
             t.wrap(pm.daily_subreddit_stats, "stats")),
            (pm, "write_subreddit_stats",
             t.wrap(pm.write_subreddit_stats, "stats")),
            (stats_mod, "upsert_partitioned",
             t.wrap(stats_mod.upsert_partitioned, "sinks")),
        ]

    def lake_shape(self) -> dict[str, float]:
        files, size = lake_size(self.last_lake)
        stats_dir = self._paths(self.last_lake)[2]
        parts = sum(
            1 for d, _, names in os.walk(stats_dir)
            if os.path.basename(d).startswith("date=")
        )
        return {"sinks.files": files, "sinks.bytes": size,
                "stats.partitions": parts}

    def prep_write(self) -> dict[str, float]:
        return {}


DOCS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
    StructField("source", StringType()),
    StructField("n_chars", LongType()),
])
EMB_SCHEMA = StructType([
    StructField("vec_id", LongType()),
    StructField("embedding", ArrayType(FloatType())),
    StructField("label", IntegerType()),
])
CURATION = (
    "dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "segment_dedup_docs", "similarity_topk", "similarity_topk_ivf",
    "similarity_topk_lsh", "text_profile", "curation_pipeline",
)


class Query:
    """The read path: ``analysis.sql`` and ``data_quality()`` through
    ``Engine`` over a lake written once through ``sinks``, then the
    curation registry queries through their ``harness`` builders."""

    name = "query"
    WARM_PASSES = 0  # no room in the run budget (README: "Run structure")
    SUBREDDITS = 12
    POSTS_PER_SUB = 100
    COMMENTS_PER_POST = 3
    DOCS = 500
    VECTORS = 500

    def __init__(self, spark, seed: int, work: str):
        from reddit_etl_spark import harness

        self.spark = spark
        self.work = work
        rng = random.Random(seed)
        posts = gen.posts(
            rng, gen.subreddit_names(self.SUBREDDITS), self.POSTS_PER_SUB, days=60
        )
        comments = gen.comments(rng, posts, self.COMMENTS_PER_POST)
        docs = gen.documents(rng, self.DOCS)
        vecs = gen.embeddings(rng, self.VECTORS)
        self.lake = os.path.join(work, "lake")
        self.cur = os.path.join(work, "curation")
        jobs0 = tr.last_job_id(spark)
        t0 = time.perf_counter()
        posts_p, comments_p = f"{self.lake}/posts", f"{self.lake}/comments"
        append_parquet(
            transform_posts(posts_df(spark, posts)), posts_p,
            partition_by=("subreddit",),
        )
        append_parquet(comments_df(spark, comments), comments_p)
        append_parquet(
            spark.createDataFrame([tuple(d.values()) for d in docs], DOCS_SCHEMA),
            f"{self.cur}/documents.parquet",
        )
        append_parquet(
            spark.createDataFrame([tuple(v.values()) for v in vecs], EMB_SCHEMA),
            f"{self.cur}/embeddings.parquet",
        )
        self._write_ms = (time.perf_counter() - t0) * 1000.0
        self._write_jobs = tr.last_job_id(spark) - jobs0
        self.lake_rows = len(posts) + len(comments) + len(docs) + len(vecs)
        (f1, b1), (f2, b2) = lake_size(self.lake), lake_size(self.cur)
        self._files, self.lake_bytes = f1 + f2, [b1 + b2]
        self.engine = Engine(spark, posts_p, comments_p)
        self.registry = harness.registry()
        self.reference_fp: dict[str, tuple] = {}

    def begin_pass(self, k: int) -> list[Op]:
        eng = self.engine
        ops = [
            query_op(n, "engine", lambda n=n: eng.analysis(n, as_of=gen.AS_OF))
            for n in sorted(ANALYSIS_QUERIES)
        ]
        ops.append(query_op("data_quality", "engine", eng.data_quality))
        ops += [
            query_op(
                n, "harness",
                lambda n=n: self.registry[n].builder(self.spark, self.cur),
            )
            for n in CURATION
        ]
        return ops

    def end_pass(self, k: int) -> None:
        pass

    def fingerprint(self, out) -> tuple:
        df, rows = out
        return oracle_rules().table_hash(rows, df.columns)

    def reference(self, name: str) -> tuple | None:
        return self.reference_fp.get(name)

    def check(self, results: dict[str, Any]) -> list[str]:
        """SQL queries against their DataFrame-builder twins, zero data
        quality violations, curation results against DuckDB oracles."""
        bad = []
        eng = self.engine
        twins = {n: getattr(eng, n) for n in ANALYSIS_QUERIES}
        twins["q13"] = lambda: eng.q13(F.lit(gen.AS_OF))
        for n, twin in twins.items():
            if n not in results:
                continue  # the operation raised: already counted as failed
            df, rows = results[n]
            want = twin()
            if _canon(rows) != _canon(want.collect()) or df.columns != want.columns:
                bad.append(f"{n}: SQL result differs from its builder twin")
        _, report = results.get("data_quality", (None, []))
        bad += [f"dq {r.check}: {r.violations}" for r in report if r.violations]
        bad += self._oracle_check(results)
        for name, out in results.items():
            self.reference_fp[name] = self.fingerprint(out)
        return bad

    def _oracle_check(self, results) -> list[str]:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 1")
            for t in ("documents", "embeddings"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.cur}/{t}.parquet/*.parquet')"
                )
            bad = []
            for n in CURATION:
                if n not in results:
                    continue
                rel = con.execute(self.registry[n].oracle)
                cols = [d[0] for d in rel.description]
                want = oracle_rules().table_hash(rel.fetchall(), cols)
                df, rows = results[n]
                got = oracle_rules().table_hash(rows, df.columns)
                if got != want or sorted(df.columns) != sorted(cols):
                    bad.append(f"{n}: {got} != oracle {want}")
            return bad
        finally:
            con.close()

    def trace_targets(self, t: tr.Tracer) -> list:
        return []

    def lake_shape(self) -> dict[str, float]:
        return {"sinks.files": self._files, "sinks.bytes": self.lake_bytes[0]}

    def prep_write(self) -> dict[str, float]:
        return {"sinks.write_ms": self._write_ms, "sinks.jobs": self._write_jobs}


def _canon(rows) -> list[tuple]:
    return sorted(tuple(oracle_rules().canon_cell(c) for c in r) for r in rows)


WORKLOADS = {w.name: w for w in (Ingest, Query)}
