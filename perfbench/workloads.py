"""The benchmark's workloads: inputs made from a seed, timed passes, the
output checks each pass must pass, and the traced pass of each.

A pass is one closed-loop unit of work: it starts when the previous one
has finished. Every pass writes into a fresh directory and releases what
it cached or checkpointed before the next one starts.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semanticrelationextractionpolish_spark.operators import materialize
from semanticrelationextractionpolish_spark.operators.dedup import (
    minhash_near_dup_pairs,
)
from semanticrelationextractionpolish_spark.operators.linking import (
    DEFAULT_JACCARD,
    connected_components,
    edges_from_triples,
    lsh_candidate_pairs,
)
from semanticrelationextractionpolish_spark.operators.mentions import (
    mentions_from_sentences,
)
from semanticrelationextractionpolish_spark.operators.pairs import generate_pairs
from semanticrelationextractionpolish_spark.operators.score import (
    score_pairs,
    triples_from_scored,
)
from semanticrelationextractionpolish_spark.operators.segment import segment_and_tag
from semanticrelationextractionpolish_spark.plans.pipeline import (
    build_kg,
    evaluate_parity,
)
from semanticrelationextractionpolish_spark.sources.synth import synth_pages
from semanticrelationextractionpolish_spark.streaming.linking import (
    merge_mentions_batch,
)
from semanticrelationextractionpolish_spark.streaming.state import (
    MANIFEST,
    VersionedState,
    read_state_table,
)

import proctree

KG_PAGES = 5000
# the committed triples fixture holds the pipeline's output on the
# synthetic corpus at its default seed and this page count
KG_FIXTURE = ("fixtures", "triples_sf0.01.parquet")
KG_FIXTURE_SEED = 42
PARITY_FLOOR = 0.95
LINK_DOCS = 10000
# the stream batches carry the mentions of the first STREAM_MENTIONS ids
STREAM_MENTIONS = 2000
MINHASH_JACCARD = 0.85
# words per generated document: a planted twin adds one, so the pair's
# word-trigram Jaccard is (DOC_WORDS - 2) / (DOC_WORDS - 1)
DOC_WORDS = 48


@dataclass
class Pass:
    """One pass: the wall seconds of its timed regions, their CPU seconds
    outside and inside JIT compilation, the F1 of its output against the
    reference (None when unchecked), the failed output checks, and the wall
    seconds of each stream batch kind."""

    seconds: float
    cpu_s: float
    jit_s: float
    quality: float | None
    errors: list[str] = field(default_factory=list)
    batches: dict[str, float] = field(default_factory=dict)


class Clock:
    """Wall seconds of the timed regions, and the process tree's CPU
    seconds in them, apart from JIT compilation (``cpu_s``) and in it
    (``jit_s``)."""

    def __init__(self):
        self.seconds = 0.0
        self.cpu_s = 0.0
        self.jit_s = 0.0

    @contextmanager
    def timing(self):
        cpu0, jit0 = proctree.cpu_times()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds += time.perf_counter() - t0
            cpu1, jit1 = proctree.cpu_times()
            self.cpu_s += (cpu1 - cpu0) - (jit1 - jit0)
            self.jit_s += jit1 - jit0


def f1(found: set, expected: set) -> float:
    if not found and not expected:
        return 1.0
    tp = len(found & expected)
    return 2 * tp / (len(found) + len(expected))


def planted_errors(what: str, found: set, expected: set) -> list[str]:
    """Every planted item must be found, and nothing else."""
    errors = []
    if expected - found:
        errors.append(f"{what}: {len(expected - found)} of {len(expected)} planted missed")
    if found - expected:
        errors.append(f"{what}: {len(found - expected)} found that were not planted")
    return errors


def _lemma(key: str) -> str:
    return hashlib.sha256(key.encode("utf-8")).hexdigest()


def planted(i: int, seed: int) -> bool:
    """Ids whose document (and lemma) near-duplicates the id before them:
    the odd member of one pair in five, chosen by the seed."""
    return i % 2 == 1 and ((i >> 1) + seed) % 5 == 0


def planted_items(spark, lo: int, hi: int, seed: int):
    """Documents and one mention per document for ids [lo, hi), built
    entirely from Column expressions. A planted id copies the text of the
    id before it plus one extra word (word-trigram Jaccard 46/47), and its
    lemma is that id's 64-letter lemma plus one letter (letter-trigram
    Jaccard 62/63)."""
    ids = spark.range(lo, hi, numPartitions=8)
    is_planted = (F.col("id") % 2 == 1) & (
        F.pmod(F.shiftright(F.col("id"), 1) + F.lit(seed), F.lit(5)) == 0
    )
    base_id = F.when(is_planted, F.col("id") - 1).otherwise(F.col("id"))
    key = F.concat(F.lit(f"{seed}:"), base_id.cast("string"))
    tok_src = F.sha2(key, 512)
    toks = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(DOC_WORDS - 1)),
            lambda i: F.substring(tok_src, i * 2 + 1, 5),
        ),
        " ",
    )
    docs = ids.select(
        F.col("id").alias("doc_id"),
        F.when(is_planted, F.concat(toks, F.lit(" zz"))).otherwise(toks).alias("text"),
    )
    mentions = ids.select(
        F.concat(F.lit("https://p/"), F.col("id").cast("string")).alias("url"),
        F.lit(0).alias("sent_idx"),
        F.lit("e1").alias("entity_id"),
        F.lit("city_nam").alias("entity_class"),
        F.lit(0).alias("beg"),
        F.lit(1).alias("end"),
        F.sha2(key, 256).alias("surface"),
        F.when(is_planted, F.concat(F.sha2(key, 256), F.lit("a")))
        .otherwise(F.sha2(key, 256))
        .alias("lemma"),
    )
    return docs, mentions


def planted_doc_pairs(lo: int, hi: int, seed: int) -> set:
    return {(i - 1, i) for i in range(lo, hi) if planted(i, seed)}


def planted_lemma_merges(lo: int, hi: int, seed: int) -> set:
    """(lemma, canonical) for every planted lemma: the canonical form of a
    component is its smallest lemma, the unsuffixed one."""
    out = set()
    for i in range(lo, hi):
        if planted(i, seed):
            base = _lemma(f"{seed}:{i - 1}")
            out.add((base + "a", base))
    return out


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, root: str, seed: int):
        self.spark = spark
        self.work_dir = work_dir
        self.root = root
        self.seed = seed

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def release_pass(self, frames) -> None:
        """Drop what a pass cached: the stage DataFrames, the program's
        internal persists, and checkpoints the benchmark made."""
        for df in frames:
            df.unpersist()
            materialize.release(df)
        self.spark.catalog.clearCache()

    def build_inputs(self) -> None:
        raise NotImplementedError

    def run_pass(self, i: int, check: bool = True) -> Pass:
        """One pass; with ``check`` false (the cold pass) its output is
        not checked."""
        raise NotImplementedError

    def traced_pass(self, tracer) -> list[str]:
        """Run the pass once more, layer by layer; return failed checks."""
        raise NotImplementedError


def _boundary(frames: list):
    """Materialize a layer's output at its boundary: one eager checkpoint
    whose job also counts the rows."""

    def cut(df: DataFrame):
        out, n = materialize.local_checkpoint_with_count(df)
        frames.append(out)
        return out, n

    return cut


def traced_link(tracer, mentions: DataFrame, cut):
    """``operators.linking.canonicalize`` wired call by call, so that its
    LSH blocking and its connected components are separate layers.
    Returns (nodes, node_assignments, n_nodes)."""
    with tracer.layer("linking.lsh"):
        lemmas, n_lemmas = cut(
            mentions.groupBy("lemma").agg(
                F.count(F.lit(1)).alias("n_mentions"),
                F.collect_set("surface").alias("surfaces"),
            )
        )
        sim, n_sim = cut(
            lsh_candidate_pairs(lemmas, "lemma", DEFAULT_JACCARD, assume_distinct=True)
        )
    tracer.rows("linking.lsh", n_lemmas, n_sim)
    tracer.layer_yield("linking.lsh", n_sim / max(n_lemmas, 1))
    with tracer.layer("linking.cc"):
        comp = connected_components(sim, "a", "b", ckpt_scope="linking_cc")
        assignments = lemmas.join(
            comp.withColumnRenamed("id", "lemma"), "lemma", "left"
        ).withColumn("comp", F.coalesce("comp", "lemma"))
        canon = assignments.groupBy("comp").agg(F.min("lemma").alias("canonical"))
        assignments, _ = cut(assignments.join(canon, "comp"))
        nodes, n_nodes = cut(
            assignments.groupBy("canonical")
            .agg(
                F.sum("n_mentions").alias("n_mentions"),
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list("surfaces")))
                ).alias("surfaces"),
            )
            .withColumn("node_id", F.xxhash64("canonical"))
            .select("node_id", "canonical", "surfaces", "n_mentions")
        )
        node_assignments = assignments.select(
            "lemma", F.xxhash64("canonical").alias("node_id"), "canonical"
        )
    tracer.rows("linking.cc", n_sim, n_nodes)
    return nodes, node_assignments, n_nodes


class KgBatch(Workload):
    """Synthetic pages -> build_kg(link=True) -> triples count + graph write."""

    name = "kg_batch"

    def __init__(self, *args):
        super().__init__(*args)
        self.fixture_triples = None
        if self.seed == KG_FIXTURE_SEED:
            path = os.path.join(self.root, *KG_FIXTURE)
            self.fixture_triples = self.spark.read.parquet(path).count()

    def build_inputs(self) -> None:
        pages, rels = synth_pages(self.spark, KG_PAGES, seed=self.seed)
        self.pages = pages.localCheckpoint(eager=True)
        self.rels = rels.localCheckpoint(eager=True)

    def check_graph(self, out: str, n_triples: int) -> list[str]:
        errors = []
        nodes = self.spark.read.parquet(os.path.join(out, "nodes"))
        edges = self.spark.read.parquet(os.path.join(out, "edges"))
        ends = edges.select(F.col("src").alias("node_id")).union(
            edges.select(F.col("dst").alias("node_id"))
        )
        dangling = ends.join(nodes, "node_id", "left_anti").count()
        if dangling:
            errors.append(f"{dangling} edge endpoints are not nodes")
        evidence = edges.agg(F.sum("n_evidence")).first()[0] or 0
        if evidence != n_triples:
            errors.append(f"sum(n_evidence) {evidence} != {n_triples} triples")
        if self.fixture_triples is not None and n_triples != self.fixture_triples:
            errors.append(f"{n_triples} triples, fixture holds {self.fixture_triples}")
        return errors

    def run_pass(self, i: int, check: bool = True) -> Pass:
        out = self.fresh_dir(f"graph{i}")
        clock = Clock()
        with clock.timing():
            stages = build_kg(self.spark, self.pages, self.rels, link=True)
            n_triples = stages["triples"].count()
            materialize.write_graph(stages["nodes"], stages["edges"], out)
        errors, quality = [], None
        if check:
            parity = evaluate_parity(stages)
            errors = self.check_graph(out, n_triples)
            if parity["precision"] < PARITY_FLOOR or parity["recall"] < PARITY_FLOOR:
                errors.append(f"parity below {PARITY_FLOOR}: {parity}")
            quality = parity["f1"]
        self.release_pass(v for v in stages.values() if isinstance(v, DataFrame))
        shutil.rmtree(out, ignore_errors=True)
        return Pass(clock.seconds, clock.cpu_s, clock.jit_s, quality, errors)

    def traced_pass(self, tracer) -> list[str]:
        frames: list = []
        cut = _boundary(frames)
        out = self.fresh_dir("graph_traced")
        pl_pages = self.pages.where(F.col("lang") == "pl")
        n_pages = pl_pages.count()
        with tracer.layer("segment"):
            sentences, n_sent = cut(
                segment_and_tag(pl_pages, text_col="html", from_html=True)
            )
        tracer.rows("segment", n_pages, n_sent)
        with tracer.layer("mentions"):
            mentions, n_mentions = cut(mentions_from_sentences(sentences))
        tracer.rows("mentions", n_sent, n_mentions)
        with tracer.layer("pairs"):
            pairs, n_pairs = cut(
                generate_pairs(sentences, self.rels, co_partitioned=True)
            )
        tracer.rows("pairs", n_sent, n_pairs)
        with tracer.layer("score"):
            triples, n_triples = cut(triples_from_scored(score_pairs(pairs)))
        tracer.rows("score", n_pairs, n_triples)
        tracer.layer_yield("score", n_triples / max(n_pairs, 1))
        nodes, node_assignments, n_nodes = traced_link(tracer, mentions, cut)
        with tracer.layer("linking.edges"):
            edges, n_edges = cut(edges_from_triples(triples, node_assignments))
        tracer.rows("linking.edges", n_triples, n_edges)
        with tracer.layer("materialize.write_graph"):
            materialize.write_graph(nodes, edges, out)
        tracer.rows("materialize.write_graph", n_nodes + n_edges, n_nodes + n_edges)
        errors = self.check_graph(out, n_triples)
        self.release_pass(frames)
        shutil.rmtree(out, ignore_errors=True)
        return errors


@contextmanager
def state_spans(tracer):
    """Attribute the state store's writes (segment appends, bucket
    rewrites, the manifest commit) to the ``streaming.state`` layer."""
    names = ("append_batch", "replace_buckets", "commit")
    originals = {n: getattr(VersionedState, n) for n in names}

    def wrap(method):
        def traced(self, *args, **kwargs):
            with tracer.layer("streaming.state"):
                return method(self, *args, **kwargs)

        return traced

    for n, method in originals.items():
        setattr(VersionedState, n, wrap(method))
    try:
        yield
    finally:
        for n, method in originals.items():
            setattr(VersionedState, n, method)


def merged(assignments: DataFrame) -> set:
    """(lemma, canonical) for every lemma linked into another one."""
    rows = (
        assignments.where(F.col("lemma") != F.col("canonical"))
        .select("lemma", "canonical")
        .collect()
    )
    return {(r[0], r[1]) for r in rows}


class LinkStream(Workload):
    """Near-duplicate documents (MinHash), then the mentions of the first
    ids into a fresh streaming state: once as a batch of new lemmas (LSH
    probe, verify and CC run), then again as a repeat batch (no new lemma,
    so the empty-delta short-circuit runs)."""

    name = "link_stream"
    BATCHES = (("new", 0), ("repeat", 1))

    def build_inputs(self) -> None:
        docs, _ = planted_items(self.spark, 0, LINK_DOCS, self.seed)
        _, mentions = planted_items(self.spark, 0, STREAM_MENTIONS, self.seed)
        self.docs = docs.localCheckpoint(eager=True)
        self.mentions = mentions.localCheckpoint(eager=True)
        self.doc_pairs = planted_doc_pairs(0, LINK_DOCS, self.seed)
        self.merges = planted_lemma_merges(0, STREAM_MENTIONS, self.seed)

    def check(self, doc_pairs: set, state: str) -> tuple[list, float]:
        """MinHash must find exactly the planted document pairs. The
        stream's components must be those batch linking finds over the
        same mentions: each planted lemma in its twin's component, and
        no other merge."""
        assignments = read_state_table(self.spark, state, "assignments")
        n_comp = assignments.select("canonical").distinct().count()
        merges = merged(assignments)
        errors = planted_errors("minhash pairs", doc_pairs, self.doc_pairs)
        errors += planted_errors("stream merges", merges, self.merges)
        if n_comp != STREAM_MENTIONS - len(self.merges):
            errors.append(
                f"{n_comp} stream components for {STREAM_MENTIONS} lemmas "
                f"and {len(self.merges)} planted merges"
            )
        quality = min(f1(doc_pairs, self.doc_pairs), f1(merges, self.merges))
        return errors, quality

    def run_pass(self, i: int, check: bool = True) -> Pass:
        state = self.fresh_dir(f"state{i}")
        clocks = {"dedup": Clock(), **{kind: Clock() for kind, _ in self.BATCHES}}
        with clocks["dedup"].timing():
            pairs = minhash_near_dup_pairs(
                self.docs, jaccard=MINHASH_JACCARD, hash_fn="md5"
            ).collect()
        for kind, batch_id in self.BATCHES:
            with clocks[kind].timing():
                materialize.release(
                    merge_mentions_batch(
                        self.spark, self.mentions, state, batch_id=batch_id
                    )
                )
        errors, quality = [], None
        if check:
            errors, quality = self.check({(r[0], r[1]) for r in pairs}, state)
        shutil.rmtree(state, ignore_errors=True)
        return Pass(
            sum(c.seconds for c in clocks.values()),
            sum(c.cpu_s for c in clocks.values()),
            sum(c.jit_s for c in clocks.values()),
            quality,
            errors,
            {kind: c.seconds for kind, c in clocks.items()},
        )

    def traced_pass(self, tracer) -> list[str]:
        frames: list = []
        cut = _boundary(frames)
        with tracer.layer("dedup.minhash"):
            pairs, n_pairs = cut(
                minhash_near_dup_pairs(self.docs, jaccard=MINHASH_JACCARD, hash_fn="md5")
            )
        tracer.rows("dedup.minhash", LINK_DOCS, n_pairs)
        doc_pairs = {(r[0], r[1]) for r in pairs.select("doc_a", "doc_b").collect()}
        self.release_pass(frames)
        state = self.fresh_dir("state_traced")
        manifest = os.path.join(state, MANIFEST)
        rewritten, segments_max, prev = 0, 0, {}
        with state_spans(tracer):
            for _, batch_id in self.BATCHES:
                with tracer.layer("streaming.merge"):
                    assignments = merge_mentions_batch(
                        self.spark, self.mentions, state, batch_id=batch_id
                    )
                tracer.rows("streaming.merge", STREAM_MENTIONS, assignments.count())
                materialize.release(assignments)
                with open(manifest, encoding="utf-8") as fh:
                    tables = json.load(fh)["tables"]
                buckets = {
                    s["bucket"]: s["path"]
                    for s in tables.get("assignments", [])
                    if "bucket" in s
                }
                rewritten += sum(1 for b, p in buckets.items() if prev.get(b) != p)
                prev = buckets
                segments_max = max([segments_max, *(len(s) for s in tables.values())])
        tracer.layer_extra("streaming.state.buckets_rewritten", rewritten)
        tracer.layer_extra("streaming.state.segments_max", segments_max)
        tracer.layer_extra("streaming.state.manifest_bytes", os.path.getsize(manifest))
        errors, _ = self.check(doc_pairs, state)
        shutil.rmtree(state, ignore_errors=True)
        return errors


WORKLOADS = {w.name: w for w in (KgBatch, LinkStream)}

