"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``  - flagship KG-construction run on sf0.001.
``queries()``     - one callable per implemented operator (SURVEY.md §2).
``oracle_sql()``  - DuckDB-equivalent SQL per query (omitted only for
                    genuinely non-SQL-expressible NLP/hash kernels, which
                    get rows-only checks).

Column names are aliased identically on both sides; counts are cast to
bigint and ratios rounded so value hashes match across engines.

Registration-order policy (round-5 verdict #8): the driver's
correctness gate records exactly the FIRST 50 ``queries()`` entries in
registration (insertion) order and silently drops the rest - round 4
lost ``kg_gold_parity`` this way when it registered 51st. Rules:

1. ``kg_gold_parity`` (the north-rule P/R metric) registers FIRST,
   always.
2. The surface stays at EXACTLY 50 entries. A new capability does not
   get slot 51; it either merges into a tagged-union query (the
   ``label_codec`` pattern: one query, per-part oracle rows) or
   displaces a narrower query whose semantics another entry already
   covers transitively.
3. Any query rotated out of the 50 keeps its implementation and its
   oracle, and stays verified by the LOCAL gate
   (``tools/check_correctness.py``), which runs the full surface with
   no cap - rotation changes what the driver records, never what is
   tested.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


# tables whose queries do heavy MAP-SIDE compute before any exchange
# and measurably benefit from pre-spreading the unsplittable test scans
# (isolated-rep A/B at sf0.1: cosine_topk 0.83 -> 0.37 s with the
# embeddings spread; the documents-table queries were mixed - the
# dedup kernels' per-row work is too cheap to beat the added exchange
# (exact_dedup +0.27 s, simhash +0.45 s) so documents is spread only
# inside the one query where it measurably wins, quality_score)
_SPREAD_TABLES = {"embeddings"}


def _spread(df: DataFrame) -> DataFrame:
    """Repartition an unsplittable small scan across the session's
    cores. The test tables are SINGLE parquet files with ONE row group
    (pyarrow metadata), so Spark's range-splitting cannot parallelize
    the scan: a kernel-heavy query's scan + fused map work ran as one
    task regardless of core count. Guide §2.5: "one huge unsplittable
    file -> repartition immediately after the read". Scale-adaptive:
    with >= cores input files (any real deployment) this is a no-op -
    no shuffle is added at scale."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if len(df.inputFiles()) < par:
        df = df.repartition(par)
    return df


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name in _SPREAD_TABLES:
        df = _spread(df)
    return df


def _fixture_tag(sf_dir: str) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    return base if base.startswith("sf") else "sf0.01"


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    tag = _fixture_tag(sf_dir)
    path = os.path.join(FIXTURE_DIR, f"pages_{tag}.parquet")
    if os.path.exists(path):
        # fixtures are SINGLE parquet files (DuckDB-readable), which
        # scan as one task and would serialize the whole no-shuffle
        # extraction chain behind it (measured: kg_sentence_counts
        # 2.5 s -> 9.4 s at sf0.1 when the frozen fixture landed);
        # spread the scan across the session's cores first
        return spark.read.parquet(path).repartition(
            spark.sparkContext.defaultParallelism
        )
    # no committed fixture for this sf: generate distributively
    from semanticrelationextractionpolish_spark.sources.synth import synth_pages

    n = {"sf0.1": 50000}.get(tag, 5000)
    return synth_pages(spark, n)[0]


def _page_rels(spark: SparkSession, sf_dir: str) -> DataFrame:
    tag = _fixture_tag(sf_dir)
    path = os.path.join(FIXTURE_DIR, f"page_relations_{tag}.parquet")
    if os.path.exists(path):
        return spark.read.parquet(path).repartition(
            spark.sparkContext.defaultParallelism
        )
    from semanticrelationextractionpolish_spark.sources.synth import synth_pages

    n = {"sf0.1": 50000}.get(tag, 5000)
    return synth_pages(spark, n)[1]


_PAGES_SQL = f"read_parquet('{FIXTURE_DIR}/pages_sf0.01.parquet')"
_PAGE_RELS_SQL = f"read_parquet('{FIXTURE_DIR}/page_relations_sf0.01.parquet')"


def _pages_pinned(spark: SparkSession) -> DataFrame:
    """sf-PINNED input for the golden-pin queries (kg_triples,
    model_inputs, kg_gold_parity): their oracles read fixtures frozen at
    sf0.01 (tools/freeze_fixtures.py), so the Spark side must read the
    same committed sf0.01 pages regardless of the driver's sf_dir -
    otherwise any other scale factor would compare live output against
    the sf0.01 fixture (round-2 advice). ``oracle_sql()`` takes no sf
    argument, so these queries pin to sf0.01 at EVERY driver sf - an
    earlier round-4 draft switched the Spark side to per-sf fixtures
    and would have hash-failed against the static oracles at sf0.1
    (caught in review). Driver-SCALE exactness is evidenced instead by
    the frozen sf0.1 fixture set (50k pages) + the sf0.1 pin-freshness
    test (tests/test_tensorize.py::test_triples_fixture_fresh_sf01:
    live pipeline == frozen triples at 50k pages). These queries are
    golden-pin REGRESSION checks (pinned fresh against the live
    pipeline), not independent cross-engine derivations; the
    independent derivations are kg_gold_parity's gold-recoverability
    SQL and the plain-Python oracle test."""
    return spark.read.parquet(os.path.join(FIXTURE_DIR, "pages_sf0.01.parquet"))


def _page_rels_pinned(spark: SparkSession) -> DataFrame:
    return spark.read.parquet(
        os.path.join(FIXTURE_DIR, "page_relations_sf0.01.parquet")
    )


# ===========================================================================
# flagship
# ===========================================================================

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG construction (extract -> segment/tag -> pairs ->
    score -> triples) on the sf0.001 synthetic page corpus."""
    from semanticrelationextractionpolish_spark.plans.pipeline import build_kg

    pages = _pages(spark, "/root/testdata/sf0.001")
    rels = _page_rels(spark, "/root/testdata/sf0.001")
    stages = build_kg(spark, pages, rels)
    return stages["triples"]


# ===========================================================================
# queries
# ===========================================================================

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- flagship parity gate (registered FIRST: the round-4 driver gate
    # recorded exactly the first 50 registration-order entries and dropped
    # the 51st, which was this query; the north-rule P/R metric must never
    # be the one that falls off the end of a capped enumeration) ----------

    def q_kg_gold_parity(spark, sf):
        """The P/R gate as an EXACT oracle query: the pipeline's predicted
        triples per (url, subj_id, obj_id, pred) must equal the gold
        relations recoverable per the reference semantics. In the seed-42
        corpus those are precisely the annotations whose mention counters
        are consecutive (template pairs; the planted cross-sentence
        annotations are non-consecutive and must be dropped by the
        same-sentence containment rule, readers.py:510)."""
        from semanticrelationextractionpolish_spark.plans.pipeline import build_kg

        stages = build_kg(
            spark, _pages_pinned(spark), _page_rels_pinned(spark), link=False
        )
        return stages["triples"].select(
            "url",
            F.col("subj_id").alias("e1_id"),
            F.col("obj_id").alias("e2_id"),
            F.col("pred").alias("rel_class"),
        )

    q["kg_gold_parity"] = q_kg_gold_parity

    # --- scans / filters / projections (S*, F*) ----------------------------

    def q_lang_filter(spark, sf):  # F1
        return (
            _t(spark, sf, "documents")
            .where(F.col("lang") == "es")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )

    q["lang_filter"] = q_lang_filter

    def q_semijoin_prune(spark, sf):  # F2/S3: keep docs that have relations
        orders = _t(spark, sf, "orders")
        big_items = _t(spark, sf, "lineitem").where(F.col("l_quantity") > 45)
        return (
            orders.join(big_items, orders.o_orderkey == big_items.l_orderkey, "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"))
        )

    q["semijoin_prune"] = q_semijoin_prune

    def q_array_contains_filter(spark, sf):  # J3-style containment predicate
        docs = _t(spark, sf, "documents")
        toks = F.split(F.col("text"), " ")
        return (
            docs.where(
                F.array_contains(toks, "spark") & F.array_contains(toks, "join")
            )
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )

    q["array_contains_filter"] = q_array_contains_filter

    def q_regex_extract(spark, sf):  # X1-X4: regex field extraction
        ev = _t(spark, sf, "events")
        k = F.regexp_extract(F.col("props"), r'"k": (\d+)', 1).cast("int")
        return (
            ev.select(F.col("event_type"), k.alias("k"))
            .groupBy("event_type")
            .agg(
                F.sum("k").cast("long").alias("k_sum"),
                F.max("k").cast("long").alias("k_max"),
            )
        )

    q["regex_extract"] = q_regex_extract

    def q_kbp37_rev_normalize(spark, sf):  # X6 (readers.py:677-689)
        ev = _t(spark, sf, "events")
        raw = F.concat(
            F.col("event_type"),
            F.when(F.pmod(F.col("user_id"), F.lit(2)) == 0, F.lit("(e1,e2)")).otherwise(
                F.lit("(e2,e1)")
            ),
        )
        norm = F.when(
            raw.contains("(e1,e2)"), F.regexp_replace(raw, r"\(e1,e2\)", "")
        ).otherwise(F.concat(F.regexp_replace(raw, r"\(e2,e1\)", ""), F.lit("_rev")))
        return (
            ev.select(norm.alias("rel"))
            .groupBy("rel")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    q["kbp37_rev_normalize"] = q_kbp37_rev_normalize

    def q_suffix_nam_filter(spark, sf):  # F3: the `_nam` class predicate
        # (sources/kpwr.py:36 keeps only proper-name classes by suffix);
        # same Column predicate over a derived entity-class label
        ev = _t(spark, sf, "events")
        label = F.concat(
            F.col("event_type"),
            F.when(F.pmod(F.col("event_id"), F.lit(3)) == 0, F.lit("_nam")).otherwise(
                F.lit("_osb")
            ),
        )
        return (
            ev.select(label.alias("entity_class"))
            .where(F.col("entity_class").endswith("_nam"))
            .groupBy("entity_class")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    q["suffix_nam_filter"] = q_suffix_nam_filter

    def q_distinct_ids_per_sentence(spark, sf):  # A3 (segment.py:28 shape)
        docs = _t(spark, sf, "documents")
        return docs.select(
            "doc_id",
            F.size(F.array_distinct(F.split(F.col("text"), " ")))
            .cast("long")
            .alias("n_distinct_tokens"),
        )

    q["distinct_ids_per_sentence"] = q_distinct_ids_per_sentence

    def q_map_inversion(spark, sf):  # X10 (vocab map inversion, vocab.py)
        ev = _t(spark, sf, "events").select("event_type").distinct()
        w = Window.orderBy("event_type")
        vocab = ev.withColumn("id", F.row_number().over(w) - 1)
        # build the label->id map, invert it with map functions (the
        # operator under test), explode back to rows
        m = vocab.agg(
            F.map_from_entries(
                F.collect_list(F.struct("event_type", "id"))
            ).alias("m")
        )
        inv = m.select(
            F.map_from_entries(
                F.transform(
                    F.map_entries("m"),
                    lambda e: F.struct(
                        e["value"].alias("k"), e["key"].alias("v")
                    ),
                )
            ).alias("inv")
        )
        return inv.select(F.explode("inv").alias("id", "label")).select(
            F.col("id").cast("long").alias("id"), "label"
        )

    q["map_inversion"] = q_map_inversion

    def q_label_codec(spark, sf):  # A10 one-hot + J4 label->id lookup
        # Two kernel ops, one query (the driver gate records at most 50
        # queries; merging these kept the surface at 50 when kg_gold_parity
        # moved to position 1). Part 'onehot' posexplodes a transform()-built
        # indicator vector and sums bits per position (A10); part 'lookup'
        # resolves labels through a broadcast create_map literal, the Column
        # form of the kernels' driver-built dict (J4). The two parts compute
        # the same counts through DIFFERENT operators, so each still has an
        # independent exact oracle row.
        ev = _t(spark, sf, "events")
        types = [
            r[0]
            for r in ev.select("event_type").distinct().orderBy("event_type").collect()
        ]  # label vocabulary: tiny, driver-side like the labels map
        idx = F.array_position(
            F.array(*[F.lit(t) for t in types]), F.col("event_type")
        )
        vec = F.transform(
            F.sequence(F.lit(1), F.lit(len(types))),
            lambda i: F.when(i == idx, 1).otherwise(0),
        )
        onehot = (
            ev.select(F.posexplode(vec).alias("pos", "bit"))
            .groupBy("pos")
            .agg(F.sum("bit").cast("long").alias("n"))
            .select(
                F.lit("onehot").alias("part"),
                F.lit("").alias("label"),
                F.col("pos").cast("long").alias("id"),
                "n",
            )
        )
        pairs = [
            x for i, t in enumerate(types) for x in (F.lit(t), F.lit(i))
        ]
        m = F.create_map(*pairs)
        lookup = (
            ev.select(
                "event_type",
                F.element_at(m, F.col("event_type")).cast("long").alias(
                    "label_id"
                ),
            )
            .groupBy("event_type", "label_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .select(
                F.lit("lookup").alias("part"),
                F.col("event_type").alias("label"),
                F.col("label_id").alias("id"),
                "n",
            )
        )
        return onehot.unionByName(lookup)

    q["label_codec"] = q_label_codec

    def q_label_format(spark, sf):  # X8: label formatting (upper + _)
        docs = _t(spark, sf, "documents")
        label = F.upper(
            F.regexp_replace(
                F.concat(F.col("source"), F.lit(" "), F.col("lang")), " ", "_"
            )
        )
        return (
            docs.select(label.alias("label"))
            .groupBy("label")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )

    q["label_format"] = q_label_format

    def q_flatten_tokens(spark, sf):  # X9: nested arrays -> flatten
        docs = _t(spark, sf, "documents")
        sents = F.split(F.col("text"), r"\. ")
        nested = F.transform(sents, lambda s: F.split(s, " "))
        return docs.select(
            "doc_id",
            F.size(F.flatten(nested)).cast("long").alias("n_tokens_flat"),
            F.size(sents).cast("long").alias("n_sentences"),
        )

    q["flatten_tokens"] = q_flatten_tokens

    # --- joins (J*) --------------------------------------------------------

    def q_broadcast_dim_join(spark, sf):  # J1: star join, dims broadcast
        li = _t(spark, sf, "lineitem")
        orders = _t(spark, sf, "orders")
        cust = _t(spark, sf, "customer")
        nation = _t(spark, sf, "nation")
        rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        # broadcast only the TRUE dims (customer, nation). orders is the
        # second-largest fact table (1.5M rows at sf1, growing with sf) -
        # force-broadcasting it is an OOM-shaped plan at 100x (round-5
        # verdict #4); AQE picks broadcast at small sf and shuffle join
        # at scale on its own.
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .groupBy("n_name")
            .agg(
                F.round(F.sum(rev), 2).alias("revenue"),
                F.count(F.lit(1)).alias("n_items"),
            )
        )

    q["broadcast_dim_join"] = q_broadcast_dim_join

    def q_pair_selfjoin_capped(spark, sf):  # J5 + O3: capped pair explosion
        # materialize the distinct ONCE: Catalyst plans the two aliased
        # self-join sides as two independent scan+shuffle+agg subtrees
        # (no ReusedExchange fires - verified in the executed plan,
        # round-7). localCheckpoint over a lazy persist: two interleaved
        # A/Bs measured the persist variant ~0.4 s slower on a cold run
        # (the InMemoryRelation's columnar-compression build costs more
        # than the checkpoint's raw block write); the trade is one
        # ~10 MB pinned block per invocation, released with the session
        li = (
            _t(spark, sf, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
            .localCheckpoint(eager=True)
        )
        a = li.select(
            F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("p1")
        )
        b = li.select(
            F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("p2")
        )
        pairs = a.join(b, "okey").where(F.col("p1") < F.col("p2"))
        return pairs.groupBy("okey").agg(
            F.least(F.count(F.lit(1)), F.lit(45)).cast("long").alias("n_pairs_capped")
        )

    q["pair_selfjoin_capped"] = q_pair_selfjoin_capped

    def q_anti_join(spark, sf):  # J6/E1
        cust = _t(spark, sf, "customer")
        orders = _t(spark, sf, "orders")
        return (
            cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_lonely"))
        )

    q["anti_join"] = q_anti_join

    # --- aggregations (A*) -------------------------------------------------

    def q_label_vocab_ids(spark, sf):  # S4/O1: sorted dense id assignment
        pt = _t(spark, sf, "part").select("p_type").distinct()
        w = Window.orderBy("p_type")
        return pt.withColumn("label_id", F.row_number().over(w).cast("long"))

    q["label_vocab_ids"] = q_label_vocab_ids

    def q_distinct_classes(spark, sf):  # A2
        return (
            _t(spark, sf, "events")
            .select(F.col("event_type").alias("rel_class"))
            .distinct()
        )

    q["distinct_classes"] = q_distinct_classes

    def q_span_extent(spark, sf):  # A5: min/max index per group
        li = _t(spark, sf, "lineitem")
        return li.groupBy("l_orderkey").agg(
            F.min("l_linenumber").cast("long").alias("span_beg"),
            F.max("l_linenumber").cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_lines"),
        )

    q["span_extent"] = q_span_extent

    def q_confusion_matrix(spark, sf):  # A9: gold x pred counts + per-class P/R
        ev = _t(spark, sf, "events")
        pred = F.when(F.col("value") > 100, "high").otherwise("low")
        gold = F.when(F.col("event_id") % 3 == 0, "high").otherwise("low")
        cm = ev.select(gold.alias("gold"), pred.alias("pred"))
        return cm.groupBy("gold", "pred").agg(F.count(F.lit(1)).alias("n"))

    q["confusion_matrix"] = q_confusion_matrix

    def q_grouped_masks(spark, sf):  # F10/O4: ordered list agg + mask
        # Emits the mask as a comma-joined string: the driver canonicalizer
        # sorts/hashes values and cannot handle array<int> cells.
        li = _t(spark, sf, "lineitem")
        arr = F.sort_array(F.collect_list(F.col("l_linenumber")))
        return li.groupBy("l_orderkey").agg(
            F.array_join(
                F.transform(arr, lambda x: (x % 2).cast("string")), ","
            ).alias("parity_mask")
        )

    q["grouped_masks"] = q_grouped_masks

    # --- windows (W*) ------------------------------------------------------

    def q_window_lag_iob(spark, sf):  # W1: B/I transition via lag
        ev = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        tag = F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            F.lit("B"),
        ).otherwise(F.lit("I"))
        return (
            ev.select("event_type", tag.alias("iob"))
            .groupBy("event_type", "iob")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    q["window_lag_iob"] = q_window_lag_iob

    def q_sessionize(spark, sf):  # W1/streaming analog: 30-min session ids
        ev = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        sess = F.sum(new_sess).over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        )
        per_sess = (
            ev.withColumn("sess", sess)
            .groupBy("user_id", "sess")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        return per_sess.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_sess_events"),
        )

    q["sessionize"] = q_sessionize

    def q_topk_per_group(spark, sf):  # O3 top-k
        orders = _t(spark, sf, "orders")
        w = Window.partitionBy("o_orderpriority").orderBy(
            F.desc("o_totalprice"), F.asc("o_orderkey")
        )
        return (
            orders.withColumn("rnk", F.row_number().over(w).cast("long"))
            .where(F.col("rnk") <= 5)
            .select("o_orderpriority", "rnk", "o_orderkey", "o_totalprice")
        )

    q["topk_per_group"] = q_topk_per_group

    # --- sorts / split (O*) ------------------------------------------------

    def q_natural_sort(spark, sf):  # O2: entity_id_sorter semantics
        docs = _t(spark, sf, "documents")
        eid = F.concat(F.lit("doc."), (F.col("doc_id") % 25).cast("string"))
        ids = docs.select(eid.alias("entity_id")).distinct()
        suffix = F.split(F.col("entity_id"), r"\.")[1].cast("int")
        w = Window.orderBy(suffix)
        return ids.withColumn("natural_rank", F.row_number().over(w).cast("long"))

    q["natural_sort"] = q_natural_sort

    def q_deterministic_split(spark, sf):  # O5 (seeded; reference unseeded)
        docs = _t(spark, sf, "documents")
        split = (
            F.when(F.col("doc_id") % 10 < 8, "train")
            .when(F.col("doc_id") % 10 == 8, "valid")
            .otherwise("test")
        )
        return docs.groupBy(split.alias("split")).agg(
            F.count(F.lit(1)).alias("n_docs")
        )

    q["deterministic_split"] = q_deterministic_split

    # --- set ops (E*) ------------------------------------------------------

    def q_set_ops(spark, sf):
        cust = _t(spark, sf, "customer")
        orders = _t(spark, sf, "orders")
        buyers = orders.select(F.col("o_custkey").alias("ck")).distinct()
        rich = cust.where(F.col("c_acctbal") > 5000).select(
            F.col("c_custkey").alias("ck")
        )
        rich_non_buyers = rich.exceptAll(rich.intersect(buyers))
        rich_buyers = rich.intersect(buyers)
        return (
            rich_non_buyers.withColumn("grp", F.lit("rich_non_buyer"))
            .unionByName(rich_buyers.withColumn("grp", F.lit("rich_buyer")))
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    q["set_ops"] = q_set_ops

    def q_connected_components(spark, sf):  # J8, exact cross-engine
        """Star-contraction connected components on a deterministic
        arithmetic graph over events: size-8 stars (event_id -> its
        8-block base) chained pairwise (x -> x+8 for x % 16 == 0). The
        DuckDB oracle recomputes min-reachable labels via a recursive
        reachability CTE - upgrading J8 from pipeline-implied to a
        direct exact check of s/operators/linking.py:connected_components."""
        from semanticrelationextractionpolish_spark.operators.linking import (
            connected_components,
        )

        ev = _t(spark, sf, "events").select("event_id")
        stars = ev.select(
            F.col("event_id").alias("src"),
            (F.col("event_id") - F.pmod("event_id", F.lit(8))).alias("dst"),
        )
        chains = ev.where(F.pmod("event_id", F.lit(16)) == 0).select(
            F.col("event_id").alias("src"),
            (F.col("event_id") + 8).alias("dst"),
        )
        comp = connected_components(stars.union(chains))
        return comp.select(
            F.col("id").cast("long").alias("id"),
            F.col("comp").cast("long").alias("comp"),
        )

    q["connected_components"] = q_connected_components

    # --- text analytics ----------------------------------------------------

    from semanticrelationextractionpolish_spark.operators import textstats as TS

    q["token_count"] = lambda spark, sf: TS.token_count(_t(spark, sf, "documents"))
    # quality_score is the one documents query whose interpreted-HOF map
    # work is heavy enough that spreading the single-file scan wins
    # (0.51 -> 0.32 s isolated warm; see _spread)
    q["quality_score"] = lambda spark, sf: TS.quality_score(
        _spread(_t(spark, sf, "documents"))
    )
    q["lang_id"] = lambda spark, sf: TS.lang_id(_t(spark, sf, "documents"))
    q["fingerprint"] = lambda spark, sf: TS.fingerprint(_t(spark, sf, "documents"))

    # --- dedup -------------------------------------------------------------

    from semanticrelationextractionpolish_spark.operators import dedup as DD

    def _docs_with_dupes(spark, sf):
        docs = _t(spark, sf, "documents").select("doc_id", "text")
        dupes = docs.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
        return docs.unionByName(dupes)

    def q_exact_dedup(spark, sf):
        return DD.exact_dedup(_docs_with_dupes(spark, sf))

    q["exact_dedup"] = q_exact_dedup

    def q_ngram_jaccard_dedup(spark, sf):
        return DD.ngram_jaccard_pairs(
            _docs_with_dupes(spark, sf), threshold=0.8, max_ngram_df=1000
        )

    q["ngram_jaccard_dedup"] = q_ngram_jaccard_dedup

    def q_minhash_neardup(spark, sf):  # exact via md5-derived signatures
        return DD.minhash_near_dup_pairs(
            _docs_with_dupes(spark, sf), jaccard=0.9, hash_fn="md5"
        )

    q["minhash_neardup"] = q_minhash_neardup

    def q_simhash_neardup(spark, sf):  # exact via md5-derived fingerprints
        return DD.simhash_near_dup_pairs(
            _docs_with_dupes(spark, sf), max_hamming=3
        )

    q["simhash_neardup"] = q_simhash_neardup

    # --- similarity search -------------------------------------------------

    from semanticrelationextractionpolish_spark.operators import similarity as SIM

    q["cosine_topk"] = lambda spark, sf: SIM.brute_force_topk(
        _t(spark, sf, "embeddings"), query_ids=list(range(10)), k=5
    )
    q["ann_topk"] = lambda spark, sf: SIM.ann_topk(
        _t(spark, sf, "embeddings"), query_ids=list(range(10)), k=5, dim=64
    )
    q["ann_recall"] = lambda spark, sf: SIM.ann_recall(
        _t(spark, sf, "embeddings"), query_ids=list(range(10)), k=5, dim=64
    )
    # multi-probe operating point (DEFAULT_MP_PLANES=7, DEFAULT_PROBES=4)
    # - the cheapest swept point whose recall@5 holds >= 0.95 at the
    # 1M-vector sweep (round-5 verdict #2; derivation at the constants,
    # table in BENCH/BASELINE.md)
    q["ann_multiprobe"] = lambda spark, sf: SIM.ann_topk(
        _t(spark, sf, "embeddings"),
        query_ids=list(range(10)),
        k=5,
        dim=64,
        n_planes=SIM.DEFAULT_MP_PLANES,
        n_probe=SIM.DEFAULT_PROBES,
    )

    def _embs_with_dupes(spark, sf):
        # plant exact-duplicate vectors (identical embedding, new id) so
        # the near-dup query verifies a non-empty result set; identical
        # vectors share every LSH bucket, so the bucketed plan finds them
        # by construction and the DuckDB mirror is exact
        embs = _t(spark, sf, "embeddings").select("vec_id", "embedding")
        dupes = embs.where(F.col("vec_id") % 11 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
        )
        return embs.unionByName(dupes)

    q["embedding_neardup"] = lambda spark, sf: SIM.pairwise_cosine_dedup(
        _embs_with_dupes(spark, sf), threshold=0.95, dim=64
    )

    # --- multimodal plumbing -----------------------------------------------

    from semanticrelationextractionpolish_spark.operators import multimodal as MM

    def q_media_meta(spark, sf):
        docs = _t(spark, sf, "documents")
        blobs = MM.synth_media(docs)
        meta = MM.media_metadata(blobs)
        return meta.select("doc_id", "n_bytes", "media_type")

    q["media_meta"] = q_media_meta

    def q_media_features(spark, sf):  # exact: synth blobs make n_frames derivable
        docs = _t(spark, sf, "documents")
        blobs = MM.synth_media(docs)
        feats = MM.extract_media_features(blobs, fake=True)
        return feats.select(
            "doc_id",
            F.size("features").cast("long").alias("feat_dim"),
            "n_frames",
        )

    q["media_features"] = q_media_features

    def q_media_frames(spark, sf):
        # frame-sample plumbing: pure Column algebra (sequence +
        # posexplode + binary substr); frame lengths are derivable from
        # octet_length arithmetic, so the query verifies exact without
        # DuckDB ever touching blob bytes
        docs = _t(spark, sf, "documents")
        frames = MM.sample_frames(MM.synth_media(docs), frame_bytes=64, every_n=2)
        return frames.select(
            "doc_id",
            F.col("frame_idx").cast("long").alias("frame_idx"),
            F.length("frame").cast("long").alias("frame_len"),
        )

    q["media_frames"] = q_media_frames

    def q_subword_counts(spark, sf):  # W2: fixed-stride subword split
        docs = _t(spark, sf, "documents")
        toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        n_sub = F.aggregate(
            toks,
            F.lit(0),
            lambda acc, w: acc + F.ceil(F.length(w) / 6).cast("int"),
        )
        return docs.select(
            "doc_id", n_sub.cast("long").alias("n_subwords")
        )

    q["subword_counts"] = q_subword_counts

    def q_model_inputs(spark, sf):  # U7/U8/W4/F5/F10 (exact vs pairs fixture)
        from semanticrelationextractionpolish_spark.operators.pairs import (
            generate_pairs,
        )
        from semanticrelationextractionpolish_spark.operators.segment import (
            segment_and_tag,
        )
        from semanticrelationextractionpolish_spark.operators.tensorize import (
            prepare_model_inputs,
        )

        # golden-pin check: input pinned to the committed sf0.01 fixture
        # (the oracle reads pairs_sf0.01.parquet) - see _pages_pinned
        pages = _pages_pinned(spark).where(F.col("lang") == "pl")
        sents = segment_and_tag(pages)
        pairs = generate_pairs(sents, _page_rels_pinned(spark))
        mi = prepare_model_inputs(pairs, max_seq_len=80)
        return mi.select(
            "url",
            "sent_idx",
            "e1_id",
            "e2_id",
            F.aggregate(
                "attention_mask", F.lit(0), lambda a, x: a + x
            ).cast("long").alias("n_real_tokens"),
            F.aggregate("e1_mask", F.lit(0), lambda a, x: a + x)
            .cast("long")
            .alias("e1_span_len"),
            F.aggregate("e2_mask", F.lit(0), lambda a, x: a + x)
            .cast("long")
            .alias("e2_span_len"),
        )

    q["model_inputs"] = q_model_inputs

    # --- KG pipeline stages on the committed page fixtures -----------------

    from semanticrelationextractionpolish_spark.operators.segment import (
        segment_and_tag,
    )
    from semanticrelationextractionpolish_spark.operators.mentions import (
        mentions_from_sentences,
    )

    def q_kg_sentence_counts(spark, sf):
        pages = _pages(spark, sf).where(F.col("lang") == "pl")
        sents = segment_and_tag(pages)
        return sents.groupBy("url").agg(F.count(F.lit(1)).alias("n_sentences"))

    q["kg_sentence_counts"] = q_kg_sentence_counts

    def q_kg_mention_counts(spark, sf):
        pages = _pages(spark, sf).where(F.col("lang") == "pl")
        sents = segment_and_tag(pages)
        m = mentions_from_sentences(sents)
        return m.groupBy("url").agg(F.count(F.lit(1)).alias("n_mentions"))

    q["kg_mention_counts"] = q_kg_mention_counts

    def q_kg_extract_roundtrip(spark, sf):
        # byte-identical HTML->text (driver invariant): html is the ONLY
        # input; oracle reads the plaintext column directly
        from semanticrelationextractionpolish_spark.operators.extract import (
            extract_text_udf,
        )

        pages = _pages(spark, sf)
        return pages.select(
            "url", extract_text_udf(F.col("html")).alias("text")
        )

    q["kg_extract_roundtrip"] = q_kg_extract_roundtrip

    def q_ner_mentions(spark, sf):  # U9: detection on RAW (annotation-stripped) text
        # exact NER-quality gate: the gazetteer tagger must recover
        # exactly the annotated mention inventory per url - the oracle
        # counts the inline annotations it never sees
        from semanticrelationextractionpolish_spark.operators.ner import (
            detect_mentions,
        )

        pages = _pages(spark, sf).where(F.col("lang") == "pl")
        # strip the inline annotation so the gazetteer works on raw text
        raw = pages.select(
            "url",
            F.regexp_replace(
                F.col("text"), r"<entity id=\"[^\"]*\"( category=\"[^\"]*\")?>|</entity>", ""
            ).alias("text"),
        )
        sents = detect_mentions(raw)
        return sents.groupBy("url").agg(
            F.sum("n_entities").cast("long").alias("n_detected")
        )

    q["ner_mentions"] = q_ner_mentions

    def q_kg_triples(spark, sf):
        # golden-pin check vs the frozen sf0.01 triples fixture
        # (pre-linking cols); input pinned - see _pages_pinned
        from semanticrelationextractionpolish_spark.plans.pipeline import build_kg

        stages = build_kg(spark, _pages_pinned(spark), _page_rels_pinned(spark))
        return stages["triples"].select(
            "url", "sent_idx", "subj", "pred", "obj", "subj_id", "obj_id"
        )

    q["kg_triples"] = q_kg_triples

    return q


# ===========================================================================
# oracles
# ===========================================================================

def oracle_sql() -> dict[str, str]:
    from semanticrelationextractionpolish_spark.operators import textstats as TS

    o: dict[str, str] = {}

    o["lang_filter"] = """
        SELECT source, count(*) AS n_docs FROM documents
        WHERE lang = 'es' GROUP BY source
    """

    o["semijoin_prune"] = """
        SELECT o_orderpriority, count(*) AS n_orders FROM orders
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
        GROUP BY o_orderpriority
    """

    o["array_contains_filter"] = """
        SELECT lang, count(*) AS n_docs FROM documents
        WHERE list_contains(string_split(text, ' '), 'spark')
          AND list_contains(string_split(text, ' '), 'join')
        GROUP BY lang
    """

    o["regex_extract"] = """
        SELECT event_type,
               sum(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT))::BIGINT AS k_sum,
               max(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT))::BIGINT AS k_max
        FROM events GROUP BY event_type
    """

    o["kbp37_rev_normalize"] = """
        SELECT rel, count(*) AS n FROM (
          SELECT CASE WHEN user_id % 2 = 0 THEN event_type
                      ELSE event_type || '_rev' END AS rel
          FROM events
        ) GROUP BY rel
    """

    o["suffix_nam_filter"] = """
        SELECT entity_class, count(*)::BIGINT AS n FROM (
          SELECT event_type || CASE WHEN event_id % 3 = 0
                                    THEN '_nam' ELSE '_osb' END AS entity_class
          FROM events
        )
        WHERE right(entity_class, 4) = '_nam'
        GROUP BY entity_class
    """

    o["distinct_ids_per_sentence"] = """
        SELECT doc_id,
               len(list_distinct(string_split(text, ' ')))::BIGINT
                 AS n_distinct_tokens
        FROM documents
    """

    o["map_inversion"] = """
        SELECT (row_number() OVER (ORDER BY event_type) - 1)::BIGINT AS id,
               event_type AS label
        FROM (SELECT DISTINCT event_type FROM events)
    """

    o["label_codec"] = """
        WITH v AS (
          SELECT event_type,
                 (row_number() OVER (ORDER BY event_type) - 1)::BIGINT AS id
          FROM (SELECT DISTINCT event_type FROM events)
        )
        SELECT 'onehot' AS part, '' AS label, v.id, count(e.event_id)::BIGINT AS n
        FROM v LEFT JOIN events e ON e.event_type = v.event_type
        GROUP BY v.id
        UNION ALL
        SELECT 'lookup' AS part, e.event_type AS label, v.id, count(*)::BIGINT AS n
        FROM events e JOIN v USING (event_type)
        GROUP BY e.event_type, v.id
    """

    o["label_format"] = """
        SELECT upper(replace(source || ' ' || lang, ' ', '_')) AS label,
               count(*)::BIGINT AS n
        FROM documents GROUP BY 1
    """

    o["flatten_tokens"] = """
        SELECT doc_id,
               len(flatten(list_transform(string_split(text, '. '),
                                          s -> string_split(s, ' '))))::BIGINT
                 AS n_tokens_flat,
               len(string_split(text, '. '))::BIGINT AS n_sentences
        FROM documents
    """

    o["broadcast_dim_join"] = """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """

    o["pair_selfjoin_capped"] = """
        SELECT okey, least(count(*), 45)::BIGINT AS n_pairs_capped FROM (
          SELECT a.l_orderkey AS okey FROM
            (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
          JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ) GROUP BY okey
    """

    o["anti_join"] = """
        SELECT c_mktsegment, count(*) AS n_lonely FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        GROUP BY c_mktsegment
    """

    o["label_vocab_ids"] = """
        SELECT p_type, row_number() OVER (ORDER BY p_type) AS label_id
        FROM (SELECT DISTINCT p_type FROM part)
    """

    o["distinct_classes"] = "SELECT DISTINCT event_type AS rel_class FROM events"

    o["span_extent"] = """
        SELECT l_orderkey, min(l_linenumber)::BIGINT AS span_beg,
               max(l_linenumber)::BIGINT AS span_end, count(*) AS n_lines
        FROM lineitem GROUP BY l_orderkey
    """

    o["confusion_matrix"] = """
        SELECT gold, pred, count(*) AS n FROM (
          SELECT CASE WHEN event_id % 3 = 0 THEN 'high' ELSE 'low' END AS gold,
                 CASE WHEN value > 100 THEN 'high' ELSE 'low' END AS pred
          FROM events
        ) GROUP BY gold, pred
    """

    o["grouped_masks"] = """
        SELECT l_orderkey,
               array_to_string(list_transform(list_sort(list(l_linenumber)), x -> x % 2), ',') AS parity_mask
        FROM lineitem GROUP BY l_orderkey
    """

    o["window_lag_iob"] = """
        SELECT event_type, iob, count(*) AS n FROM (
          SELECT event_type,
                 CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      IS DISTINCT FROM event_type THEN 'B' ELSE 'I' END AS iob
          FROM events
        ) GROUP BY event_type, iob
    """

    o["sessionize"] = """
        SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_sess_events
        FROM (
          SELECT user_id, sess, count(*) AS n_events FROM (
            SELECT user_id,
                   sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess
            FROM (
              SELECT user_id, ts, event_id,
                     CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                          OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
            )
          ) GROUP BY user_id, sess
        ) GROUP BY user_id
    """

    o["topk_per_group"] = """
        SELECT o_orderpriority, rnk, o_orderkey, o_totalprice FROM (
          SELECT o_orderpriority, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
          FROM orders
        ) WHERE rnk <= 5
    """

    o["natural_sort"] = """
        SELECT entity_id,
               row_number() OVER (ORDER BY CAST(string_split(entity_id, '.')[2] AS INT)) AS natural_rank
        FROM (SELECT DISTINCT 'doc.' || (doc_id % 25)::VARCHAR AS entity_id FROM documents)
    """

    o["deterministic_split"] = """
        SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
                    WHEN doc_id % 10 = 8 THEN 'valid'
                    ELSE 'test' END AS split,
               count(*) AS n_docs
        FROM documents GROUP BY 1
    """

    o["set_ops"] = """
        SELECT grp, count(*) AS n FROM (
          SELECT ck, 'rich_non_buyer' AS grp FROM (
            SELECT c_custkey AS ck FROM customer WHERE c_acctbal > 5000
            EXCEPT
            SELECT DISTINCT o_custkey FROM orders
          )
          UNION ALL
          SELECT ck, 'rich_buyer' AS grp FROM (
            SELECT c_custkey AS ck FROM customer WHERE c_acctbal > 5000
            INTERSECT
            SELECT DISTINCT o_custkey FROM orders
          )
        ) GROUP BY grp
    """

    # J8 direct check: min-reachable component labels via recursive
    # reachability closure (bounded: components are <= ~24 nodes by
    # construction, so the closure is sum(|C|^2) ~ 25x the node count)
    o["connected_components"] = """
        WITH RECURSIVE base AS (
          SELECT DISTINCT event_id AS u, event_id - (event_id % 8) AS v
          FROM events
          UNION
          SELECT event_id, event_id + 8 FROM events WHERE event_id % 16 = 0
        ), edges AS (
          SELECT u, v FROM base UNION SELECT v AS u, u AS v FROM base
        ), nodes AS (
          SELECT DISTINCT u AS id FROM edges
        ), walk(id, reach) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT w.id, e.v FROM walk w JOIN edges e ON e.u = w.reach
        )
        SELECT id::BIGINT AS id, min(reach)::BIGINT AS comp
        FROM walk GROUP BY id
    """

    o["subword_counts"] = """
        SELECT doc_id,
               list_sum(list_transform(
                 regexp_split_to_array(trim(lower(text)), '\\s+'),
                 w -> CAST(ceil(length(w) / 6.0) AS INT)
               ))::BIGINT AS n_subwords
        FROM documents
    """

    o["token_count"] = TS.token_count_oracle_sql()
    o["quality_score"] = TS.quality_oracle_sql()
    o["lang_id"] = TS.lang_id_oracle_sql()
    o["fingerprint"] = TS.fingerprint_oracle_sql()

    _dupes_cte = """
        WITH docs2 AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
        )
    """

    o["exact_dedup"] = _dupes_cte + """
        SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS content_md5,
               min(doc_id) AS keeper_doc_id,
               count(*) AS n_copies
        FROM docs2 GROUP BY 1
    """

    o["ngram_jaccard_dedup"] = _dupes_cte + """
        , grams AS (
          SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS gram FROM (
            SELECT doc_id,
                   list_distinct([array_to_string(toks[i:i+2], ' ')
                                  for i in range(1, greatest(len(toks) - 2, 0) + 1)]) AS gs
            FROM (SELECT doc_id,
                         string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
                  FROM docs2)
          )
        ), capped AS (
          SELECT * FROM grams
          WHERE gram IN (SELECT gram FROM grams GROUP BY gram HAVING count(*) <= 1000)
        )
        SELECT doc_a, doc_b, jaccard FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_grams AS na, b.n_grams AS nb,
                 count(*) AS shared,
                 round(count(*) / CAST(a.n_grams + b.n_grams - count(*) AS DOUBLE), 6) AS jaccard
          FROM capped a JOIN capped b ON a.gram = b.gram AND a.doc_id < b.doc_id
           AND least(a.n_grams, b.n_grams)::DOUBLE / greatest(a.n_grams, b.n_grams) >= 0.8
          GROUP BY a.doc_id, b.doc_id, a.n_grams, b.n_grams
        ) WHERE jaccard >= 0.8
    """

    from semanticrelationextractionpolish_spark.operators.dedup import (
        minhash_md5_oracle_sql,
        simhash_md5_oracle_sql,
    )

    o["minhash_neardup"] = minhash_md5_oracle_sql(_dupes_cte, jaccard=0.9)
    o["simhash_neardup"] = simhash_md5_oracle_sql(_dupes_cte, max_hamming=3)

    from semanticrelationextractionpolish_spark.operators.similarity import (
        ann_recall_oracle_sql,
        ann_topk_oracle_sql,
        brute_force_topk_oracle_sql,
        pairwise_cosine_dedup_oracle_sql,
    )

    o["cosine_topk"] = brute_force_topk_oracle_sql(list(range(10)), k=5)
    o["ann_topk"] = ann_topk_oracle_sql(list(range(10)), k=5, dim=64)
    o["ann_recall"] = ann_recall_oracle_sql(list(range(10)), k=5, dim=64)
    from semanticrelationextractionpolish_spark.operators.similarity import (
        DEFAULT_MP_PLANES,
        DEFAULT_PROBES,
    )

    o["ann_multiprobe"] = ann_topk_oracle_sql(
        list(range(10)),
        k=5,
        dim=64,
        n_planes=DEFAULT_MP_PLANES,
        n_probe=DEFAULT_PROBES,
    )
    o["embedding_neardup"] = pairwise_cosine_dedup_oracle_sql(
        threshold=0.95, dim=64
    )

    o["media_features"] = """
        SELECT doc_id,
               16::BIGINT AS feat_dim,
               ((3 + octet_length(encode(text))) % 16 + 1)::INT AS n_frames
        FROM documents
    """

    o["media_meta"] = """
        SELECT doc_id,
               (3 + octet_length(encode(text)))::INT AS n_bytes,
               CASE doc_id % 4 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
                               WHEN 2 THEN 'audio/wav' ELSE 'video/mp4' END AS media_type
        FROM documents
    """

    o["media_frames"] = """
        WITH t AS (
          SELECT doc_id, 3 + octet_length(encode(text)) AS total FROM documents
        )
        SELECT doc_id,
               unnest(range(0, (total + 63) // 64, 2))::BIGINT AS frame_idx,
               least(64, total - unnest(range(0, (total + 63) // 64, 2)) * 64)::BIGINT
                 AS frame_len
        FROM t
    """

    # --- KG stages over the committed page fixture -------------------------

    o["kg_sentence_counts"] = f"""
        SELECT url, len(regexp_extract_all(text, '[.!?](\\s|$)'))::BIGINT AS n_sentences
        FROM {_PAGES_SQL} WHERE lang = 'pl'
    """

    o["kg_mention_counts"] = f"""
        SELECT url, len(regexp_extract_all(text, '<entity '))::BIGINT AS n_mentions
        FROM {_PAGES_SQL} WHERE lang = 'pl'
        AND text LIKE '%<entity %'
    """

    o["kg_extract_roundtrip"] = f"SELECT url, text FROM {_PAGES_SQL}"

    # full-pipeline triples vs the frozen golden projection
    # (tools/freeze_fixtures.py; pinned fresh against the live pipeline
    # by tests/test_tensorize.py::test_triples_fixture_fresh) - the
    # pre-linking columns only; linking ids are hash-dependent
    o["kg_triples"] = f"""
        SELECT url, sent_idx, subj, pred, obj, subj_id, obj_id
        FROM read_parquet('{FIXTURE_DIR}/triples_sf0.01.parquet')
    """

    # NER parity gate: detected mentions on raw text == the annotation
    # count per url (the gazetteer recovers the full inventory; verified
    # 4706/4706 urls at sf0.01)
    o["ner_mentions"] = f"""
        SELECT url, len(regexp_extract_all(text, '<entity '))::BIGINT AS n_detected
        FROM {_PAGES_SQL} WHERE lang = 'pl'
    """

    # tensorize arithmetic over the frozen PAIRS projection
    # (fixtures/pairs_sf0.01.parquet, regenerated by tools/freeze_fixtures.py
    # and pinned fresh by tests/test_tensorize.py): CLS shift, the
    # strictly-greater too-long filter, inclusive marker-span masks,
    # attention = non-pad count (token ids are never 0 by construction)
    o["model_inputs"] = f"""
        SELECT url, sent_idx, e1_id, e2_id,
               (least(n_tokens, 78) + 2)::BIGINT AS n_real_tokens,
               CASE WHEN e1_beg IS NULL THEN 0
                    ELSE greatest(least(e1_end + 2, 80) - e1_beg - 1, 0)
               END::BIGINT AS e1_span_len,
               CASE WHEN e1_beg IS NULL THEN 0
                    ELSE greatest(least(e2_end + 2, 80) - e2_beg - 1, 0)
               END::BIGINT AS e2_span_len
        FROM read_parquet('{FIXTURE_DIR}/pairs_sf0.01.parquet')
        WHERE e1_beg IS NULL
           OR greatest(e1_beg, e1_end, e2_beg, e2_end) + 1 <= 79
    """

    # the P/R >= 0.95 gate, oracle-exact: recoverable gold = annotations
    # with consecutive mention counters (see q_kg_gold_parity docstring)
    o["kg_gold_parity"] = f"""
        SELECT url, e1_id, e2_id, rel_class
        FROM {_PAGE_RELS_SQL}
        WHERE CAST(string_split(e1_id, '.')[2] AS INT) + 1
              = CAST(string_split(e2_id, '.')[2] AS INT)
    """

    # Every queries() entry has an oracle. Caveat on provenance:
    # kg_triples and model_inputs are GOLDEN-PIN checks (oracle reads a
    # fixture frozen from this pipeline at sf0.01, pinned fresh by
    # tests/test_tensorize.py; inputs sf-pinned accordingly) - the
    # independent derivations of the same semantics are kg_gold_parity
    # (gold recoverability from the input annotations alone) and the
    # plain-Python oracle test. All other oracles recompute their result
    # from the input tables.
    return o
