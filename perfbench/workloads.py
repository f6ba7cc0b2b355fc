"""The three workloads: seeded inputs, the timed entry call, and the
reference each output is checked against.

Every input is a pure function of ``--seed``. The engine receives only
the generated tables; the references come from the engine's DuckDB
twins run over the same generated ``documents`` table.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass

import duckdb
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scoobie_spark import fixtures, pipeline, queries
from scoobie_spark.extras import codegraph
from scoobie_spark.flagship_sql import flagship_oracle_sql
from scoobie_spark.kb import etl
from scoobie_spark.kb.model import KB

# Filler words. None shares its first four letters with a word of a KB
# label (fixtures._FIRST/_LAST), so filler never forms a mention, whatever
# its length, and its tokens rarely enter the KB prefix set: the scan,
# not the candidates it emits, is the cost.
VOCAB = (
    "amber basin cobalt delta fern flint gravel hollow inlet jasper kelp lumen "
    "marsh nectar opal pebble quiver ridge slate tundra umbra vapor wharf zinc"
).split()
if {w.lower()[:4] for w in fixtures._FIRST + fixtures._LAST} & {w[:4] for w in VOCAB}:
    raise ValueError("a filler word shares a prefix with a KB label word")

N_PLANTED = 200  # the synthetic KB the flagship twin replays
BACKGROUND_NS = "http://example.org/background#bg_"


@dataclass(frozen=True)
class Scale:
    prose_docs: int
    prose_filler_repeat: int   # copies of a 200-char filler per document
    kb_docs: int
    kb_background: int         # disconnected KB instances added to the 200
    kb_edges_per: int          # seeded non-type edges per background instance
    code_files: int


SCALES = {
    "full": Scale(prose_docs=2000, prose_filler_repeat=800, kb_docs=1000,
                  kb_background=20_000, kb_edges_per=13, code_files=8_000),
    # for the smoke test: same code paths, seconds per run; kb_large's KB
    # stays under the adjacency cap here, so it takes the broadcast route
    "tiny": Scale(prose_docs=60, prose_filler_repeat=4, kb_docs=60,
                  kb_background=500, kb_edges_per=2, code_files=600),
}


def documents(seed: int, n: int, words: int, base_ids: int = 0) -> pd.DataFrame:
    """(doc_id, text): ``base_ids`` fixed ids 0.. then seeded distinct ids,
    and seeded filler text, distinct per document."""
    rng = random.Random(seed)
    ids = list(range(base_ids)) + rng.sample(range(max(base_ids, 1), 1 << 40), n - base_ids)
    text = [" ".join(rng.choice(VOCAB) for _ in range(words)) for _ in range(n)]
    return pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"), "text": text})


def duckdb_rows(sql: str, docs: pd.DataFrame, threads: int) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {threads}")
        con.register("documents", docs)
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def digest(df: DataFrame, columns: list[str]) -> tuple[int, int]:
    """(row count, order-independent digest) in one aggregation: the sum
    of a 64-bit hash per row, exact in decimal(38,0)."""
    h = F.xxhash64(*[F.col(c).cast("string") for c in columns]).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("d")).first()
    return int(row["n"]), int(row["d"] or 0)


def _corpus_stats(df: DataFrame) -> dict:
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("sha256").alias("distinct"),
        F.sum(F.length("content")).alias("chars"),
    ).first()
    return {
        "docs": row["n"],
        "content_mb": round(row["chars"] / 2**20, 3),
        "duplicate_share": round(1 - row["distinct"] / row["n"], 4),
    }




class Workload:
    name = ""
    columns: list[str] = []

    def __init__(self, seed: int, scale: Scale, work: str, cores: int):
        self.seed, self.scale, self.work, self.cores = seed, scale, work, cores
        self.shape: dict = {}
        self.protected: set[int] = set()   # persisted RDDs the inputs live in

    def build(self, spark: SparkSession) -> None:
        """Generate the inputs and the KB (set-up)."""
        raise NotImplementedError

    def before(self) -> None:
        """Fresh per-iteration state, outside the timed region."""

    def after(self) -> None:
        """Drop per-iteration state, outside the timed region."""

    def run(self, spark: SparkSession) -> DataFrame:
        """The timed call into the engine's entry function."""
        raise NotImplementedError

    def reference(self) -> pd.DataFrame:
        raise NotImplementedError

    def note_iteration(self) -> None:
        """Record route facts after an untimed iteration."""

    def _path(self, name: str) -> str:
        return os.path.join(self.work, name)


class _Flagship(Workload):
    """``pipeline.extract_triples`` over ``fixtures.synth_corpus`` rows
    built from seeded documents, against a KB holding the 200 planted
    instances the flagship twin replays."""

    columns = ["doc_id", "graph", "subj", "pred", "obj"]
    doc_words = 0
    filler_repeat = 1

    def _build_corpus(self, spark: SparkSession, n_docs: int) -> None:
        self.docs = documents(self.seed, n_docs, self.doc_words)
        fixtures.synth_corpus(
            spark,
            docs=spark.createDataFrame(self.docs),
            n_instances=N_PLANTED,
            filler_repeat=self.filler_repeat,
        ).write.parquet(self._path("corpus"))
        self.shape.update(_corpus_stats(spark.read.parquet(self._path("corpus"))))

    def _record_kb(self, n_instances: int) -> None:
        rel = self.kb.relations.agg(
            F.count(F.lit(1)).alias("rows"),
            F.count_if(F.col("p") != self.kb.rdf_type_id).alias("non_type"),
        ).first()
        self.shape.update(
            kb_instances=n_instances,
            non_type_edges=rel["non_type"],
            relations_rows=rel["rows"],
            literals_rows=self.kb.literals.count(),
        )

    def fresh_kb(self) -> KB:
        # a new handle per run: its memo dicts (well-known URI ids, the
        # adjacency broadcast) start empty, so that work is timed
        self.handle = KB(
            self.kb.resources, self.kb.literals, self.kb.relations, self.kb.symbols
        )
        return self.handle

    def run(self, spark: SparkSession) -> DataFrame:
        corpus = spark.read.parquet(self._path("corpus"))
        return pipeline.extract_triples(spark, corpus, self.fresh_kb(), self.cfg)

    def before(self) -> None:
        self.cfg = pipeline.PipelineConfig()

    def note_iteration(self) -> None:
        self.shape["adjacency_built"] = int(
            any(v is not None for v in self.handle._adj_bc.values())
        )

    def reference(self) -> pd.DataFrame:
        # The twin replays synth_corpus with filler_repeat=1. Triples do
        # not depend on filler length: doc_id hashes (repo, path, commit),
        # and filler words are never label words (see VOCAB).
        return duckdb_rows(flagship_oracle_sql(n_instances=N_PLANTED), self.docs, self.cores)


class ProseBulk(_Flagship):
    name = "prose_bulk"
    doc_words = 40  # > 200 chars, the filler width synth_corpus keeps

    def build(self, spark: SparkSession) -> None:
        self.filler_repeat = self.scale.prose_filler_repeat
        self._build_corpus(spark, self.scale.prose_docs)
        # driver-side encoded synthetic KB, under the adjacency cap
        self.kb = fixtures.synth_kb(spark, n_instances=N_PLANTED)
        self._record_kb(N_PLANTED)


class KbLarge(_Flagship):
    name = "kb_large"
    doc_words = 6  # short documents, 1-3 mentions each

    def build(self, spark: SparkSession) -> None:
        self._build_corpus(spark, self.scale.kb_docs)
        n_bg, k = self.scale.kb_background, self.scale.kb_edges_per
        res, sym = fixtures.synth_kb_rows(N_PLANTED)
        bg = spark.range(0, n_bg, 1, self.cores)
        uri = lambda c: F.concat(F.lit(BACKGROUND_NS), c.cast("string"))  # noqa: E731
        h = F.xxhash64(F.lit(self.seed), F.col("id"))
        # k seeded links out of every background instance, to another
        # background instance: none touches the planted instances
        src = F.floor(F.col("id") / k)
        obj = spark.createDataFrame(res, "s string, p string, o string").unionByName(
            spark.range(0, n_bg * k, 1, self.cores).select(
                uri(src).alias("s"),
                F.lit(fixtures.EX_ONT + "near").alias("p"),
                uri(F.pmod(src + 1 + F.pmod(h, F.lit(n_bg - 1)), F.lit(n_bg))).alias("o"),
            )
        )
        # labels with digits: no corpus word has one
        dat = spark.createDataFrame(sym, "s string, p string, literal string").unionByName(
            bg.select(
                uri(F.col("id")).alias("s"),
                F.lit(fixtures.RDFS_LABEL).alias("p"),
                F.concat(F.lit("Qz"), F.pmod(h, F.lit(10**9)).cast("string"), F.lit(" Bg")).alias("literal"),
            )
        )
        self.kb = etl.build_kb_from_string_triples(spark, obj, dat)
        self.protected = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
        self._record_kb(N_PLANTED + n_bg)

    def before(self) -> None:
        # a new directory per run: a reused one would resume from its
        # _SUCCESS markers and skip the work
        self.ckpt = self._path(f"checkpoint-{os.urandom(4).hex()}")
        self.cfg = pipeline.PipelineConfig(checkpoint_dir=self.ckpt)

    def after(self) -> None:
        shutil.rmtree(self.ckpt, ignore_errors=True)


class CodeKg(Workload):
    """``extras.codegraph.kg_triples`` over a repo-file table made by the
    same recipe as ``queries._repo_files``."""

    name = "code_kg"
    columns = ["subj", "pred", "obj"]

    def build(self, spark: SparkSession) -> None:
        # ids 0..499 always exist: every file imports modules m0..m499
        self.docs = documents(self.seed, self.scale.code_files, 8, base_ids=min(500, self.scale.code_files))
        src = self._path("code")
        spark.createDataFrame(self.docs).write.parquet(os.path.join(src, "documents.parquet"))
        queries._repo_files(spark, src).repartition(2 * self.cores).write.parquet(self._path("files"))
        row = spark.read.parquet(self._path("files")).agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("content").alias("distinct"),
            F.sum(F.length("content")).alias("chars"),
            F.countDistinct("repo").alias("repos"),
        ).first()
        self.shape.update(
            files=row["n"],
            repos=row["repos"],
            content_mb=round(row["chars"] / 2**20, 3),
            duplicate_share=round(1 - row["distinct"] / row["n"], 4),
            adjacency_built=0,
        )

    def run(self, spark: SparkSession) -> DataFrame:
        return codegraph.kg_triples(spark.read.parquet(self._path("files")))

    def reference(self) -> pd.DataFrame:
        return duckdb_rows(queries.oracle_sql()["code_kg_triples"], self.docs, self.cores)


WORKLOADS = {w.name: w for w in (ProseBulk, KbLarge, CodeKg)}
