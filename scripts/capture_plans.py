"""Capture physical plans for the flagship pipelines into PLANS.md, with
assertions on the properties that matter at 100 TB:

- the KG tagging chain is narrow (no Exchange before the sink);
- parquet scans carry PushedFilters + pruned ReadSchema;
- dimension joins are BroadcastHashJoin, never sort-merge;
- Python stages are ArrowEvalPython/MapInPandas (vectorized), wrapped in
  WholeStageCodegen relational glue.

Usage: python scripts/capture_plans.py
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from unsupervised_ner_spark.ops import dedup  # noqa: E402
from unsupervised_ner_spark.pipeline.runner import run_pipeline  # noqa: E402
from unsupervised_ner_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


# output schemas (column names) of the two Python kernels of the KG chain
TAGGING_KERNEL = ("url", "sent_idx", "sent", "words", "span_arr", "tags", "mentions")
ER_SIGNATURE_KERNEL = ("node_id", "etype", "shs", "band_0", "band_1", "band_2")


def map_in_pandas_kernels(plan: str) -> dict[tuple[str, ...], set[str]]:
    """Distinct MapInPandas nodes of formatted plans, grouped by output
    schema. A node is its output attribute list with expression ids, so
    the copies of one node (AQE's initial and final plan, a cached
    relation printed under every scan of it) count once."""

    out: dict[tuple[str, ...], set[str]] = {}
    for attrs in re.findall(
        r"^\(\d+\) MapInPandas\nInput[^\n]*\nArguments: [^\n]*?, \[([^\]]*)\], (?:true|false)$",
        plan, re.M,
    ):
        out.setdefault(tuple(a.split("#")[0] for a in attrs.split(", ")), set()).add(attrs)
    return out


def uncached_nodes(df, node: str) -> int:
    """Nodes named ``node`` in ``df``'s optimized logical plan. A cached
    subtree is an InMemoryRelation leaf there, so these are the nodes the
    action runs instead of reading them from a cached relation."""
    stack, n = [df._jdf.queryExecution().optimizedPlan()], 0  # noqa: SLF001
    while stack:
        plan = stack.pop()
        n += plan.nodeName() == node
        children = plan.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return n


def sql_execution_plans(spark) -> dict[int, str]:
    """Physical plan of every SQL execution the session has run so far,
    by execution id, from the SQL status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()  # noqa: SLF001
    plans = {}
    while it.hasNext():
        e = it.next()
        plans[e.executionId()] = e.physicalPlanDescription()
    return plans


def main() -> None:
    spark = get_spark("plans", cores=8, shuffle_partitions=8)
    sections = []
    checks = []

    # 1. production KG chain: pages -> token tags
    pages = entry._docs_as_pages(spark, SF)
    stages = run_pipeline(pages, lang_filter="en")
    p1 = plan_of(stages["tags"])
    sections.append(("KG production chain (pages -> BIO tags)", p1))
    # the adaptive ingest spread (layout.spread_small_scan) adds ONE
    # round-robin exchange at the head when the scan is under-split; the
    # chain itself stays shuffle-free — no key (hash/range) exchange.
    checks.append(("tagging chain: no key exchange (ingest-spread "
                   "round-robin only)",
                   "hashpartitioning" not in p1
                   and "rangepartitioning" not in p1))
    checks.append(("vectorized Python stage present", "MapInPandas" in p1))
    checks.append((
        "lang filter pushed to parquet scan",
        "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in p1.replace("'", ""),
    ))

    # 2. filtered relational aggregate: pushdown + codegen
    q2 = entry.q_rel_agg_scan(spark, SF)
    p2 = plan_of(q2)
    sections.append(("Filtered aggregate (rel_agg_scan)", p2))
    checks.append(("shipdate filter pushed down", "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate," in p2))
    checks.append(("column-pruned scan", "ReadSchema: struct<l_orderkey:bigint,l_quantity:double,l_returnflag:string,l_linestatus:string,l_shipdate:timestamp" in p2))
    # codegen spans show as "*(n)" prefixes in the final adaptive plan,
    # post-execution (simpleString notation for WholeStageCodegen)
    q2.collect()
    executed = q2._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    checks.append(("whole-stage codegen", "*(" in executed))

    # 3. broadcast join for the dimension side
    p3 = plan_of(entry.q_rel_join_topk(spark, SF))
    sections.append(("Broadcast join + windowed top-k (rel_join_topk)", p3))
    checks.append(("customer dim broadcast", "BroadcastHashJoin" in p3))

    # 4. LSH dedup: band join shape. Scale posture (VERDICT r01): the banded
    # signature table is persisted so shingling+minhash runs ONCE — every
    # InMemoryTableScan in the plan points at the SAME InMemoryRelation
    # (one distinct "Scan parquet" node id) — and no join side carries a
    # FORCED broadcast hint (a ResolvedHint in the logical plan). Stats-
    # based BroadcastExchange at sf0.01 is fine: the bucket table really is
    # small here, and the same cost model picks a shuffle join when the
    # estimate crosses the threshold at scale.
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    lsh = dedup.lsh_bucket_pairs(docs)
    p4 = plan_of(lsh)
    sections.append(("MinHash-LSH candidate pairs (dedup)", p4))
    scan_ids = set(re.findall(r"Scan parquet\s*\((\d+)\)", p4))
    checks.append(("banded signatures persisted (single signature computation)",
                   "InMemoryRelation" in p4 and len(scan_ids) == 1))
    analyzed = lsh._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
    checks.append(("no forced broadcast hint on the bucket join",
                   "ResolvedHint" not in analyzed))

    # 5. salted occurrence->entity link: the explicit-salt skew join the
    # north rule asks for — occurrence side salted by its own id, entity
    # side replicated via an exploded salt sequence, so a hot surface
    # ("covid") spreads over `salt` reducers.
    from unsupervised_ner_spark.pipeline import er as ER

    occ = spark.createDataFrame(
        [("o1", "u1", "Covid", "covid", "DISEASE")],
        "occurrence_id string, url string, surface string, norm_surface string, etype string",
    )
    ents = spark.createDataFrame(
        [("e1", "covid", "DISEASE")], "entity_id string, norm_surface string, etype string"
    )
    p5 = plan_of(ER.salted_occurrence_link(occ, ents, salt=8))
    sections.append(("Salted occurrence->entity link (hot-key skew)", p5))
    # the salt sequence constant-folds to a literal array; the Generate node
    # still shows the explode producing the salt column
    checks.append(("salt replication via explode on the entity side",
                   "Generate" in p5 and "false, [salt#" in p5))
    checks.append(("join shuffles on (norm_surface, etype, salt)",
                   "salt" in p5 and "Join" in p5))

    # 6. ER fuzzy-edge LSH: banded signatures persisted (single upstream
    # evaluation), no forced broadcast — same posture as dedup LSH.
    nodes = spark.createDataFrame(
        [("n1", "mesothelioma", "DISEASE", 3, "Mesothelioma")],
        "node_id string, norm_surface string, etype string, n_mentions long, canonical_surface string",
    )
    p6 = plan_of(ER.fuzzy_edges(nodes))
    sections.append(("ER fuzzy edges (char-shingle MinHash-LSH)", p6))
    checks.append(("banded node signatures persisted", "InMemoryRelation" in p6))
    checks.append(("no forced broadcast hint in ER band join",
                   "ResolvedHint" not in p6))

    # 7. kg_canonical_triples end-to-end (VERDICT r02 item 1b): ONE tagging
    # pass feeds both the triple flattening and the ER occurrence chain —
    # the round-2 version ran the corpus twice (production chain + a second
    # relational typing pass). In the final plan every branch reads the
    # persisted tagged table (InMemoryTableScan). The ER signature kernel
    # runs in the eager connected-components jobs of the build, so its
    # node is read from those executions' plans in the SQL status store.
    from unsupervised_ner_spark.caching import cache_scope

    before = sql_execution_plans(spark)
    with cache_scope():
        q7 = entry.q_kg_canonical_triples(spark, SF)
        p7 = plan_of(q7)
        sections.append(("North-rule end table (kg_canonical_triples), single derivation", p7))
        built = [p7, *(v for k, v in sql_execution_plans(spark).items() if k not in before)]
        kernels = map_in_pandas_kernels("\n".join(built))
        # exactly one node each, the same node in every plan that shows it
        # (a cached relation's definition is re-printed under each scan)
        checks.append(("tagging kernel planned exactly once: branches read "
                       "the cached tagged table",
                       len(kernels.get(TAGGING_KERNEL, ())) == 1
                       and set(map_in_pandas_kernels(p7)) == {TAGGING_KERNEL}
                       and uncached_nodes(q7, "MapInPandas") == 0))
        checks.append(("ER signature kernel planned exactly once in the build",
                       len(kernels.get(ER_SIGNATURE_KERNEL, ())) == 1))
        checks.append(("no MapInPandas besides the tagging and ER signature kernels",
                       set(kernels) == {TAGGING_KERNEL, ER_SIGNATURE_KERNEL}))
        checks.append(("salted subj/obj membership joins",
                       "ssalt" in p7 and "osalt" in p7))
        checks.append(("CC labels materialized (lineage cut): ExistingRDD scan",
                       "ExistingRDD" in p7))

    # 7b. SimHash Hamming pairs: blocking table persisted once (feeds the
    # bucket-size aggregate AND both self-join sides), no forced broadcast
    # — same posture as the minhash LSH plan.
    with cache_scope():
        sp = dedup.simhash_pairs(docs)
        p7b = plan_of(sp)
        sections.append(("SimHash Hamming pairs (multi-block blocking)", p7b))
        checks.append(("simhash blocking table persisted once",
                       "InMemoryRelation" in p7b))
        checks.append(("no forced broadcast in simhash block join",
                       "ResolvedHint" not in
                       sp._jdf.queryExecution().analyzed().toString()))

    # 8. ensemble BIO emission (VERDICT r03 item 4): resolved spans joined
    # back at SENTENCE granularity — the plan must contain NO exchange
    # keyed on token_idx (the round-3 version exploded both sides to token
    # granularity and shuffled the full token table).
    with cache_scope():
        p8 = plan_of(entry.q_kg_ensemble_v1_tags(spark, SF))
        sections.append(("Ensemble BIO emission (sentence-level, kg_ensemble_v1_tags)", p8))
        tok_exchanges = [
            m for m in re.findall(r"Exchange hashpartitioning\([^)]*\)", p8)
            if "token_idx" in m
        ]
        checks.append(("no exchange keyed on token_idx in ensemble emission",
                       not tok_exchanges and "Exchange" in p8))

    # 9. kg_cooccurrence (VERDICT r04 item 2): the distinct per-sentence
    # entity table is persisted ONCE and feeds BOTH self-join sides
    # (InMemoryTableScan x2 over one InMemoryRelation); the pairing is an
    # equi-join keyed on (url, sent_idx) — sentence-local, never
    # corpus-quadratic; no forced broadcast anywhere in the chain.
    with cache_scope():
        q9 = entry.q_kg_cooccurrence(spark, SF)
        p9 = plan_of(q9)
        sections.append(("Entity co-occurrence edges (kg_cooccurrence)", p9))
        checks.append(("cooccurrence distinct-entity table persisted once",
                       "InMemoryRelation" in p9
                       and p9.count("InMemoryTableScan") >= 2))
        # the pairing join must key on (url, sent_idx) — sentence-local.
        # At sf0.01 the cost model broadcasts the tiny cached entity table
        # (no hint — stats-based, same posture as the LSH plans); at scale
        # the same keys become a co-partitioned shuffle join. Check the
        # join node's keys, not the exchange (which only appears at scale).
        cooc_keys = re.findall(r"Left keys \[2\]: \[url#\d+, sent_idx#\d+\]", p9)
        checks.append(("cooccurrence pairing keyed on (url, sent_idx)",
                       bool(cooc_keys)))
        checks.append(("no forced broadcast in cooccurrence chain",
                       "ResolvedHint" not in
                       q9._jdf.queryExecution().analyzed().toString()))

    # 10. contamination screen: the eval-shingle side must be the
    # BROADCAST side of the join (a benchmark is tiny vs a 100 TB corpus);
    # the train-side scan must not shuffle on shingle.
    q10 = entry.q_txt_contamination(spark, SF)
    p10 = plan_of(q10)
    sections.append(("Contamination screen (txt_contamination)", p10))
    checks.append(("eval shingles broadcast", "BroadcastHashJoin" in p10))
    shingle_exch = [
        m for m in re.findall(r"Exchange hashpartitioning\([^)]*\)", p10)
        if "shingle" in m
    ]
    checks.append(("no train-side shuffle on shingle",
                   len(shingle_exch) <= 1))  # eval-side distinct only

    # 11. as-of join: one hash exchange on the join key + sort + window —
    # never a nested-loop/cartesian range join.
    q11 = entry.q_rel_asof_join(spark, SF)
    p11 = plan_of(q11)
    sections.append(("As-of join (rel_asof_join)", p11))
    checks.append(("asof plans as window, not range join",
                   "Window" in p11
                   and "BroadcastNestedLoopJoin" not in p11
                   and "CartesianProduct" not in p11))
    # formatted plans put the partitioning on the node's Arguments line —
    # require exactly ONE hash partitioning in the whole plan, on user_id
    checks.append(("asof: single exchange, keyed on user_id",
                   len(re.findall(r"hashpartitioning\(\w+", p11)) == 1
                   and len(re.findall(r"hashpartitioning\(user_id#\d+", p11)) == 1))

    # 12. repetition stats: the top-bigram aggregate must partially
    # aggregate before its exchange (map-side combine on (doc_id, bg)).
    q12 = entry.q_txt_repetition(spark, SF)
    p12 = plan_of(q12)
    sections.append(("Repetition signals (txt_repetition)", p12))
    checks.append(("bigram count partially aggregated pre-shuffle",
                   "partial_count" in p12 or "Partial" in p12))

    # 13. triangle enumeration: the edge-key table is persisted ONCE and
    # feeds all THREE join sides of the node-iterator (wedge join on the
    # middle node + closing join on the (a, c) pair); no forced broadcast.
    with cache_scope():
        q13 = entry.q_kg_triangles(spark, SF)
        p13 = plan_of(q13)
        sections.append(("Triangle enumeration (kg_triangles)", p13))
        checks.append(("triangle edge table persisted once, 3 consumers",
                       "InMemoryRelation" in p13
                       and p13.count("InMemoryTableScan") >= 3))
        checks.append(("no forced broadcast in triangle chain",
                       "ResolvedHint" not in
                       q13._jdf.queryExecution().analyzed().toString()))

    # 14. triple support: one aggregate over the canonical triple stream —
    # must partially aggregate (map-side combine) before its exchange, so
    # a hot triple ships one partial row per map task, not its raw stream.
    with cache_scope():
        q14 = entry.q_kg_triple_support(spark, SF)
        p14 = plan_of(q14)
        sections.append(("Triple support aggregation (kg_triple_support)", p14))
        checks.append(("triple support partially aggregated pre-shuffle",
                       "partial_count" in p14 or "Partial" in p14))

    # 15. PII redaction: pure narrow map — no exchange anywhere, no Python.
    q15 = entry.q_txt_redact(spark, SF)
    p15 = plan_of(q15)
    sections.append(("PII redaction (txt_redact)", p15))
    checks.append(("redaction is a narrow JVM-only map stage",
                   "Exchange" not in p15
                   and "Python" not in p15
                   and "ReadSchema: struct<doc_id:bigint,text:string>" in p15))

    # 16. common neighbors: the symmetrized adjacency is persisted ONCE and
    # feeds the degree aggregate + both capped pair-generation sides; the
    # degree cap makes the wedge stage never hub-quadratic (checked at the
    # operator level by test_common_neighbors_degree_cap_excludes_hub_witness).
    with cache_scope():
        q16 = entry.q_kg_common_neighbors(spark, SF)
        p16 = plan_of(q16)
        sections.append(("Common neighbors (kg_common_neighbors)", p16))
        checks.append(("common-neighbor adjacency persisted once, 3 consumers",
                       "InMemoryRelation" in p16
                       and p16.count("InMemoryTableScan") >= 3))
        checks.append(("no forced broadcast in common-neighbor chain",
                       "ResolvedHint" not in
                       q16._jdf.queryExecution().analyzed().toString()))

    # 17. IVF-PQ ADC: ranking reads the code table + a BROADCAST distance
    # table (never the raw vectors), and the ADC total is a partially
    # aggregated integer sum (map-side combine before the exchange).
    q17 = entry.q_ann_ivfpq_topk(spark, SF)
    p17 = plan_of(q17)
    sections.append(("IVF-PQ ADC search (ann_ivfpq_topk)", p17))
    checks.append(("ivfpq distance table broadcast",
                   "BroadcastHashJoin" in p17))
    checks.append(("ivfpq ADC partially aggregated pre-shuffle",
                   "partial_sum" in p17 or "Partial" in p17))

    # 18. Integer PageRank: the symmetrized adjacency is persisted once and
    # scanned by EVERY power step (one src-keyed join + one dst-keyed sum
    # per step), the message sum is partially aggregated pre-shuffle, and
    # nothing corpus-sized carries a forced broadcast.
    with cache_scope():
        q18 = entry.q_kg_pagerank(spark, SF)
        p18 = plan_of(q18)
        sections.append(("Integer PageRank (kg_pagerank)", p18))
        checks.append(("pagerank adjacency persisted once, scanned every step",
                       "InMemoryRelation" in p18
                       and p18.count("InMemoryTableScan") >= 3))
        checks.append(("pagerank message sum partially aggregated pre-shuffle",
                       "partial_sum" in p18 or "Partial" in p18))
        checks.append(("no forced broadcast in pagerank chain",
                       "ResolvedHint" not in
                       q18._jdf.queryExecution().analyzed().toString()))

    # 19. Two-hop paths: the distinct-edge support table feeds BOTH join
    # sides plus the two degree aggregates (4 consumers), so it is
    # persisted once; the pairing join is an equi-join on the middle id.
    with cache_scope():
        q19 = entry.q_kg_paths_2hop(spark, SF)
        p19 = plan_of(q19)
        sections.append(("Two-hop KG paths (kg_paths_2hop)", p19))
        checks.append(("2hop support table persisted once, 4 consumers",
                       "InMemoryRelation" in p19
                       and p19.count("InMemoryTableScan") >= 4))
        checks.append(("no forced broadcast in 2hop chain",
                       "ResolvedHint" not in
                       q19._jdf.queryExecution().analyzed().toString()))

    # 20. Line-level dedup: the exploded line table is deliberately NOT
    # persisted (line-level corpus cache would dwarf executor memory at
    # 100 TB; the explode is a narrow Generate over the parquet scan and
    # recomputes cheaper than it caches) — the plan shows the Generate on
    # both branches and a partially aggregated line-frequency count.
    q20 = entry.q_txt_line_dedup(spark, SF)
    p20 = plan_of(q20)
    sections.append(("Line-level dedup (txt_line_dedup)", p20))
    checks.append(("line explode is a narrow Generate (both branches)",
                   p20.count("Generate") >= 2))
    checks.append(("line frequency partially aggregated pre-shuffle",
                   "partial_" in p20))
    checks.append(("no forced broadcast in line-dedup chain",
                   "ResolvedHint" not in
                   q20._jdf.queryExecution().analyzed().toString()))

    # 21. k-core peel: every round localCheckpoints (the plan would triple
    # per round otherwise), so the final plan reads an ExistingRDD scan —
    # bounded lineage regardless of round count — and the final degree
    # aggregate map-side combines.
    with cache_scope():
        q21 = entry.q_kg_kcore(spark, SF)
        p21 = plan_of(q21)
        sections.append(("k-core peel (kg_kcore)", p21))
        checks.append(("kcore rounds lineage-cut (ExistingRDD scan)",
                       "ExistingRDD" in p21))
        checks.append(("kcore final degree partially aggregated",
                       "partial_count" in p21 or "Partial" in p21))

    # 22. Bucketed co-located join: two tables bucketed on the same key
    # with the same bucket count join with ZERO Exchange nodes — the
    # write-once/shuffle-never storage layout for the repeatedly-joined
    # fact tables (canonical triples by subj_id, occurrences by surface).
    import tempfile

    from unsupervised_ner_spark.ops.bucketing import (  # noqa: E402
        colocated_join, write_bucketed,
    )

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with tempfile.TemporaryDirectory() as tmp:
            base = spark.range(0, 2000).select(
                F.col("id").alias("doc_id"), (F.col("id") % 7).alias("grp")
            )
            write_bucketed(base, "pl_docs", ["doc_id"], 8,
                           sort_cols=["doc_id"], path=f"{tmp}/pl_docs")
            write_bucketed(base.select("doc_id", (F.col("doc_id") * 3).alias("v")),
                           "pl_stats", ["doc_id"], 8,
                           sort_cols=["doc_id"], path=f"{tmp}/pl_stats")
            q22 = colocated_join(spark, "pl_docs", "pl_stats", ["doc_id"])
            q22.count()
            p22 = q22._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
            sections.append(("Bucketed co-located join (ops/bucketing.py)", p22))
            checks.append(("bucketed join: zero Exchange on either side",
                           "Exchange" not in p22))
            checks.append(("bucketed join is a sort-merge join",
                           "SortMergeJoin" in p22))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS pl_docs")
        spark.sql("DROP TABLE IF EXISTS pl_stats")

    # 23. HLL registers: the count-distinct that never shuffles the token
    # universe — one narrow Generate (explode) and ONE exchange keyed on
    # (lang, bucket) AFTER a map-side partial max, so the shuffle carries
    # at most #langs x 256 rows per map partition. No Expand/distinct.
    q23 = entry.q_txt_hll_registers(spark, SF)
    p23 = plan_of(q23)
    sections.append(("HLL registers (txt_hll_registers)", p23))
    checks.append(("hll: register max partially aggregated pre-shuffle",
                   "partial_max" in p23))
    # formatted plans print every node twice (tree + detail) — count the
    # tree occurrences only
    checks.append(("hll: single exchange, keyed on the register id",
                   p23.count("+- Exchange") == 1
                   and "hashpartitioning(lang" in p23))
    checks.append(("hll: no distinct/Expand of the token universe",
                   "Expand" not in p23))

    # 24. TF-IDF top-k: tf and df aggregates both map-side combine; n_docs
    # rides in as a broadcast 1-row aggregate (BroadcastNestedLoopJoin, no
    # driver action); the top-k sort is windowed per doc_id, never global.
    q24 = entry.q_txt_tfidf(spark, SF)
    p24 = plan_of(q24)
    sections.append(("TF-IDF top-k terms (txt_tfidf)", p24))
    checks.append(("tfidf: tf/df partially aggregated pre-shuffle",
                   p24.count("partial_count") >= 2))
    checks.append(("tfidf: n_docs scalar broadcast, not collected",
                   "BroadcastNestedLoopJoin" in p24))
    checks.append(("tfidf: top-k sort is per-doc windowed, not global",
                   "Window" in p24 and "Sort [score_i9" not in p24))

    # 25. CMS counters: same sketch posture as HLL — narrow posexplode
    # into the d hash rows, one partial-count exchange bounded by the
    # d x 4096 cell space, never the value universe.
    q25 = entry.q_txt_cms_counters(spark, SF)
    p25 = plan_of(q25)
    sections.append(("Count-Min counters (txt_cms_counters)", p25))
    checks.append(("cms: counters partially aggregated pre-shuffle",
                   "partial_count" in p25))
    checks.append(("cms: single exchange keyed on the cell id",
                   p25.count("+- Exchange") == 1
                   and "hashpartitioning(row_idx" in p25))

    # 26. Bloom vocabulary screen: the bit table broadcasts (<= k x 65,536
    # rows) so the probe side is screened by a BroadcastHashJoin — the
    # seen-SET itself is never shuffled against the probes.
    q26 = entry.q_txt_bloom_vocab(spark, SF)
    p26 = plan_of(q26)
    sections.append(("Bloom vocabulary screen (txt_bloom_vocab)", p26))
    checks.append(("bloom: bit table broadcast to the probe side",
                   "BroadcastHashJoin" in p26))
    checks.append(("bloom: probe hit-count partially aggregated",
                   "partial_count" in p26))

    # 27. entity linking: KB dim broadcast, argmin partially aggregated
    p27 = plan_of(entry.q_er_entity_linking(spark, SF))
    sections.append(("Entity linking (er_entity_linking)", p27))
    checks.append(("linking: KB dim is BroadcastHashJoin (no corpus shuffle"
                   " for candidate generation)", "BroadcastHashJoin" in p27))
    checks.append(("linking: per-node argmin partially aggregated map-side",
                   "partial_min" in p27))
    checks.append(("linking: no sort-merge join anywhere",
                   "SortMergeJoin" not in p27))

    # 28. temporal fact table: two-level agg, no double-distinct Expand
    p28 = plan_of(entry.q_kg_triples_temporal(spark, SF))
    sections.append(("Temporal fact table (kg_triples_temporal)", p28))
    checks.append(("temporal: no Expand (double-distinct avoided by the"
                   " two-level aggregate)", "Expand" not in p28))
    checks.append(("temporal: level-1 page aggregate partially aggregated",
                   "partial_count" in p28 or "partial_min" in p28))

    # 29. SRP-LSH: probe set broadcast; corpus side never exchanges for
    # candidate generation (the only exchange is the per-query top-k window)
    p29 = plan_of(entry.q_ann_srp_lsh(spark, SF))
    sections.append(("SRP-LSH top-k (ann_srp_lsh)", p29))
    checks.append(("srp: probe set is BroadcastHashJoin",
                   "BroadcastHashJoin" in p29))
    import re as _re

    shuffles = _re.findall(r"^\(\d+\) Exchange$", p29, _re.M)
    checks.append(("srp: exactly one shuffle exchange (top-k window), none"
                   " for pairing (broadcast only)", len(shuffles) == 1))

    # 30. split assignment: stateless projection — the split must be a
    # pure per-row expression (no Exchange, no aggregate) so it pushes
    # into the scan stage at any scale
    p30 = plan_of(entry.q_txt_split_assign(spark, SF))
    sections.append(("Train/val/test split assignment (txt_split_assign)", p30))
    checks.append(("split assign: zero shuffles (stateless projection)",
                   "Exchange" not in p30))

    # 31. split leakage: the pair table comes from the capped LSH chain
    # (banded table persisted once via InMemoryTableScan); the two split
    # lookups are narrow projections — no corpus-sized broadcast anywhere
    p31 = plan_of(entry.q_txt_split_leakage(spark, SF))
    sections.append(("Split leakage screen (txt_split_leakage)", p31))
    checks.append(("split leakage: banded LSH table persisted once",
                   "InMemoryTableScan" in p31))
    checks.append(("split leakage: no forced corpus broadcast of documents",
                   "documents.parquet" not in
                   "".join(l for l in p31.splitlines() if "Broadcast" in l)))

    # 32. postings: tf aggregate partially combines map-side before the
    # term-keyed exchange; min_df prunes via the df-side join
    p32 = plan_of(entry.q_txt_postings(spark, SF))
    sections.append(("Inverted-index postings (txt_postings)", p32))
    checks.append(("postings: map-side partial aggregation",
                   "partial_count" in p32 or "HashAggregate" in p32))

    # 33. bigram LM: bigrams come from a narrow in-array transform — the
    # plan must contain no join before the pair aggregate (a positional
    # self-join would shuffle the corpus on (doc_id, pos)); the only
    # joins are the vocabulary-bounded marginal attachments
    p33 = plan_of(entry.q_txt_bigram_lm(spark, SF))
    sections.append(("Bigram LM stats (txt_bigram_lm)", p33))
    checks.append(("bigram: narrow Generate (explode) over the scan",
                   "Generate" in p33))
    checks.append(("bigram: no sort-merge positional self-join",
                   "SortMergeJoin" not in p33.split("HashAggregate")[0]))

    # 34. histogram sketch: ONE aggregate keyed on (lang, bin) — state
    # bounded by max_bins per language; the percentile pick windows over
    # the bounded histogram, never the corpus
    p34 = plan_of(entry.q_txt_length_hist(spark, SF))
    sections.append(("Histogram-sketch percentiles (txt_length_hist)", p34))
    checks.append(("hist: map-side partial aggregation",
                   "partial_count" in p34))

    # 35. sequence packing: the doc-level cumsum window must partition on
    # the md5 bucket (a real hashpartitioning exchange), the ONLY
    # single-partition exchange is the bounded bucket-totals window, and
    # the bucket-offset table joins back as a broadcast
    p35 = plan_of(entry.q_txt_pack_sequences(spark, SF))
    sections.append(("Sequence packing (txt_pack_sequences)", p35))
    checks.append(("pack: doc window partitions on bucket (hashpartitioning)",
                   "hashpartitioning(bucket" in p35))
    checks.append(("pack: bounded bucket-offset table broadcast back",
                   "BroadcastExchange" in p35))
    checks.append(("pack: at most one SinglePartition exchange (bucket totals"
                   " only, never the corpus)",
                   p35.count("Exchange SinglePartition") <= 1))

    # 36. mix planner: one map-side-combining token aggregate; the 1-row
    # weight total attaches as a broadcast, never a corpus shuffle
    p36 = plan_of(entry.q_txt_mix_plan(spark, SF))
    sections.append(("Token-budget mix planner (txt_mix_plan)", p36))
    checks.append(("mix plan: map-side partial aggregation",
                   "partial_count" in p36 or "partial_sum" in p36))
    checks.append(("mix plan: weight total broadcast (1-row)",
                   "BroadcastExchange" in p36 or "BroadcastNestedLoopJoin" in p36))

    # 37. incremental dedup: both banded-signature tables persisted once
    # (index feeds sizes+cross, batch feeds sizes+cross+internal) and no
    # forced broadcast of a corpus-sized band table
    p37 = plan_of(entry.q_dedup_incremental(spark, SF))
    sections.append(("Incremental-ingest dedup (dedup_incremental)", p37))
    checks.append(("incremental dedup: banded tables persisted once",
                   "InMemoryTableScan" in p37))
    checks.append(("incremental dedup: no documents-parquet broadcast",
                   "documents.parquet" not in
                   "".join(l for l in p37.splitlines() if "Broadcast" in l)))

    # 38. chunking: a pure narrow transform — tokenize, explode the
    # bounded window sequence, slice. ZERO exchanges at any scale.
    p38 = plan_of(entry.q_txt_chunks(spark, SF))
    sections.append(("Token-window chunking (txt_chunks)", p38))
    checks.append(("chunks: zero shuffles (narrow explode only)",
                   "Exchange" not in p38))
    checks.append(("chunks: Generate (explode) present", "Generate" in p38))

    # 39. pack manifest: inherits the packing plan (bucket-partitioned
    # window + broadcast offsets) plus one narrow explode — still at most
    # one SinglePartition exchange (the bounded bucket-totals window)
    p39 = plan_of(entry.q_txt_pack_manifest(spark, SF))
    sections.append(("Pack writer manifest (txt_pack_manifest)", p39))
    checks.append(("manifest: doc window partitions on bucket",
                   "hashpartitioning(bucket" in p39))
    checks.append(("manifest: at most one SinglePartition exchange",
                   p39.count("Exchange SinglePartition") <= 1))

    # 40. bigram novelty: the exploded bigram stream feeds the corpus
    # pair aggregate AND the join probe — persisted once; the per-doc
    # aggregate partially combines map-side
    p40 = plan_of(entry.q_txt_bigram_novelty(spark, SF))
    sections.append(("Rare-bigram novelty (txt_bigram_novelty)", p40))
    checks.append(("novelty: bigram stream persisted once",
                   "InMemoryTableScan" in p40))
    checks.append(("novelty: map-side partial aggregation",
                   "partial_count" in p40))

    # 41b. snapshot diff: ONE full-outer equi-join on doc_id between two
    # narrow fingerprint scans — no broadcast of a snapshot side
    p41b = plan_of(entry.q_dedup_snapshot_diff(spark, SF))
    sections.append(("Snapshot diff (dedup_snapshot_diff)", p41b))
    checks.append(("snapshot diff: full-outer shuffle join, no broadcast",
                   "SortMergeJoin FullOuter" in p41b
                   or ("FullOuter" in p41b and "BroadcastExchange" not in p41b)))

    # 41c. lang mix: a pure narrow scan — per-language hit counts are
    # array expressions over ONE tokenization; no exchange at any scale
    p41c = plan_of(entry.q_txt_lang_mix(spark, SF))
    sections.append(("Mixed-language detection (txt_lang_mix)", p41c))
    checks.append(("lang mix: zero shuffles (narrow scan)",
                   "Exchange" not in p41c))

    # 41d. predicate pairs: the distinct subject-predicate table persists
    # once (feeds both self-join sides); the pair aggregate map-side
    # combines
    p41d = plan_of(entry.q_kg_predicate_pairs(spark, SF))
    sections.append(("Predicate co-occurrence (kg_predicate_pairs)", p41d))
    checks.append(("predicate pairs: distinct table persisted once",
                   "InMemoryTableScan" in p41d))

    # 41. entity cards: the resolved occurrence stream is persisted once
    # (feeds the card stats aggregate AND the per-surface alias counts)
    p41 = plan_of(entry.q_kg_entity_cards(spark, SF))
    sections.append(("Entity profile cards (kg_entity_cards)", p41))
    checks.append(("entity cards: resolved occurrences persisted once",
                   "InMemoryTableScan" in p41))

    # 42. Hearst taxonomy: one narrow regexp scan (union of two extraction
    # branches) + one partial-aggregating exchange; no join anywhere
    p42 = plan_of(entry.q_kg_hearst_hypernyms(spark, SF))
    sections.append(("Hearst hypernyms (kg_hearst_hypernyms)", p42))
    checks.append(("hearst: no join in the plan",
                   "Join" not in p42))
    checks.append(("hearst: partial aggregate before the exchange",
                   "HashAggregate" in p42))

    # 43. negative sampling: vocab index built with NO global-sort window
    # (two-level bucket rank), the 1-row count and bucket offsets broadcast,
    # the selection join a plain equi-join
    p43 = plan_of(entry.q_kg_negative_samples(spark, SF))
    sections.append(("KG negative sampling (kg_negative_samples)", p43))
    checks.append(("negatives: bucket offsets + |vocab| broadcast",
                   p43.count("BroadcastExchange") >= 2))
    checks.append(("negatives: vocab rank window is bucket-partitioned",
                   "windowspecdefinition(bucket" in p43))

    # 44. entity contexts: sentence-local equi-join + pure array expressions;
    # no aggregation, no window
    p44 = plan_of(entry.q_kg_entity_contexts(spark, SF))
    sections.append(("Masked entity contexts (kg_entity_contexts)", p44))
    checks.append(("contexts: no window function", "Window" not in p44))

    # 45. entity trends: corpus stream collapses in ONE partial-aggregating
    # pass before the per-entity window (whose partitions are day-bounded)
    p45 = plan_of(entry.q_kg_entity_trends(spark, SF))
    sections.append(("Entity daily trends (kg_entity_trends)", p45))
    checks.append(("trends: partial aggregate + entity-keyed window",
                   "HashAggregate" in p45
                   and "windowspecdefinition(ent" in p45))
    checks.append(("trends: no join in the plan", "Join" not in p45))

    # 46. ER cluster stats: two bounded aggregates on top of membership;
    # no window, no extra corpus scan beyond the shared ER chain
    p46 = plan_of(entry.q_er_cluster_stats(spark, SF))
    sections.append(("ER cluster-size histogram (er_cluster_stats)", p46))
    checks.append(("cluster stats: no window function", "Window" not in p46))

    # 47. taxonomy 2-hop closure: the collapsed edge aggregate feeds BOTH
    # self-join sides (persisted once), and the join keys on the mid node
    p47 = plan_of(entry.q_kg_taxonomy_2hop(spark, SF))
    sections.append(("Taxonomy 2-hop closure (kg_taxonomy_2hop)", p47))
    checks.append(("taxonomy 2hop: collapsed edges persisted once",
                   "InMemoryTableScan" in p47))

    # 48. LSH bucket stats: two cascaded aggregates, no join, no window
    p48 = plan_of(entry.q_dedup_lsh_stats(spark, SF))
    sections.append(("LSH bucket-size histogram (dedup_lsh_stats)", p48))
    checks.append(("lsh stats: no join, no window",
                   "Join" not in p48 and "Window" not in p48))

    # 49. appositive typing: one regexp scan + one aggregate, no join
    p49 = plan_of(entry.q_kg_appositive_types(spark, SF))
    sections.append(("Appositive instance typing (kg_appositive_types)", p49))
    checks.append(("appositive: no join, no window",
                   "Join" not in p49 and "Window" not in p49))

    # 50. predicate functionality: two cascaded aggregates over the triple
    # chain, no window and no NEW join beyond the chain's own
    p50 = plan_of(entry.q_kg_pred_functionality(spark, SF))
    sections.append(("Predicate functionality (kg_pred_functionality)", p50))
    checks.append(("pred functionality: no window on the stats path",
                   "windowspecdefinition(pred_norm" not in p50))

    # 51. conflicts: the (pred, subj) aggregate is persisted once and
    # feeds both the violation filter and the predicate stats
    p51 = plan_of(entry.q_kg_conflicts(spark, SF))
    sections.append(("Conflicting facts (kg_conflicts)", p51))
    checks.append(("conflicts: per-subject aggregate persisted once",
                   "InMemoryTableScan" in p51))

    # 52. BPE pairs: corpus collapses to the vocab aggregate BEFORE the
    # pair explode (explode runs over distinct words only); no join
    p52 = plan_of(entry.q_txt_bpe_pairs(spark, SF))
    sections.append(("BPE pair statistics (txt_bpe_pairs)", p52))
    checks.append(("bpe pairs: no join, no window",
                   "Join" not in p52 and "Window" not in p52))

    # 53. hashing TF: one explode + one aggregate, no join, no window,
    # no vocabulary table
    p53 = plan_of(entry.q_txt_hashing_tf(spark, SF))
    sections.append(("Feature hashing (txt_hashing_tf)", p53))
    checks.append(("hashing tf: no join, no window",
                   "Join" not in p53 and "Window" not in p53))

    # 54. sentence dedup: one fingerprint aggregate, no join, no window
    p54 = plan_of(entry.q_txt_sent_dedup(spark, SF))
    sections.append(("Sentence-level exact dedup (txt_sent_dedup)", p54))
    checks.append(("sent dedup: no join, no window",
                   "Join" not in p54 and "Window" not in p54))

    # 55. reciprocal pairs: the distinct edge aggregate is persisted once
    # and feeds both self-join sides
    p55 = plan_of(entry.q_kg_reciprocal_pairs(spark, SF))
    sections.append(("Reciprocated entity pairs (kg_reciprocal_pairs)", p55))
    checks.append(("reciprocal pairs: edge aggregate persisted once",
                   "InMemoryTableScan" in p55))

    # 56. CoNLL export: per-sentence aggregate with array_sort ordering —
    # no window function does the line ordering
    p56 = plan_of(entry.q_kg_conll(spark, SF))
    sections.append(("CoNLL serialization (kg_conll)", p56))
    checks.append(("conll: no window for line ordering",
                   "windowspecdefinition(url" not in p56))

    # 57. word PMI: pairs generated expression-side — the only joins
    # attach the bounded unigram/total dims, no positional self-join
    # (nothing joins on a token-position key), no window
    p57 = plan_of(entry.q_txt_word_pmi(spark, SF))
    sections.append(("Skip-gram PMI statistics (txt_word_pmi)", p57))
    checks.append(("word pmi: no window (pairs are expression-side)",
                   "Window" not in p57))

    # 58. shared n-grams: rolling windows expression-side, ONE aggregate,
    # no join, no window
    p58 = plan_of(entry.q_dedup_shared_ngrams(spark, SF))
    sections.append(("Duplicate-span index (dedup_shared_ngrams)", p58))
    checks.append(("shared ngrams: no join, no window",
                   "Join" not in p58 and "Window" not in p58))

    # 59. tag transitions: per-sentence collect + expression-side pairs —
    # no window function orders the sequence
    p59 = plan_of(entry.q_kg_tag_transitions(spark, SF))
    sections.append(("Tag-transition matrix (kg_tag_transitions)", p59))
    checks.append(("tag transitions: no window for sequencing",
                   "windowspecdefinition(url" not in p59))

    # 77. entity provenance: url-keyed provenance join + two cascaded
    # aggregates; the dominant-domain pick is a min-struct argmin (no window)
    p77 = plan_of(entry.q_kg_entity_provenance(spark, SF))
    sections.append(("Entity source diversity (kg_entity_provenance)", p77))
    checks.append(("provenance: no window (argmin via min-struct)",
                   "Window" not in p77))

    # 78. domain quality: url-keyed join chain + ONE bounded domain
    # aggregate; no window
    p78 = plan_of(entry.q_txt_domain_quality(spark, SF))
    sections.append(("Domain quality rollup (txt_domain_quality)", p78))
    checks.append(("domain quality: no window",
                   "Window" not in p78))
    checks.append(("domain quality: map-side partial aggregation",
                   "partial" in p78.lower()))

    # 75. host HITS: the distinct edge table is persisted once and reused
    # across all half-steps; the max-normalization joins as a broadcast
    # (BroadcastNestedLoopJoin of a 1-row aggregate), never a collect
    p75 = plan_of(entry.q_txt_host_hits(spark, SF))
    sections.append(("Host HITS hubs/authorities (txt_host_hits)", p75))
    checks.append(("host hits: score/edge tables checkpointed (lineage truncated"
                   " — plain persist doubles the LOGICAL plan per half-step)",
                   "ExistingRDD" in p75))
    checks.append(("host hits: 1-row max joins as broadcast",
                   "BroadcastNestedLoopJoin" in p75))

    # 76. canonical dedup: ONE aggregate over the canonical mapping
    p76 = plan_of(entry.q_dedup_canonical(spark, SF))
    sections.append(("Canonical dedup groups (dedup_canonical)", p76))
    checks.append(("canonical dedup: aggregate only, no join",
                   "Join" not in p76 and "Window" not in p76))

    # 72. anchor texts: narrow extract+zip+explode then ONE aggregate
    p72 = plan_of(entry.q_txt_anchor_texts(spark, SF))
    sections.append(("Anchor-text alias table (txt_anchor_texts)", p72))
    checks.append(("anchor texts: aggregate only, no join",
                   "Join" not in p72 and "Window" not in p72))

    # 73. canonical urls: pure narrow map
    p73 = plan_of(entry.q_txt_canonical(spark, SF))
    sections.append(("Canonical-URL mapping (txt_canonical)", p73))
    checks.append(("canonical: narrow map-only (no Exchange)",
                   "Exchange" not in p73 and "Join" not in p73))

    # 74. host rank: the symmetrized adjacency is persisted once and
    # reused across the 3 power steps (InMemoryTableScan present)
    p74 = plan_of(entry.q_txt_host_rank(spark, SF))
    sections.append(("Host PageRank (txt_host_rank)", p74))
    checks.append(("host rank: adjacency persisted once",
                   "InMemoryTableScan" in p74))

    # 70. link extraction: narrow map (regex extract + explode + CASE
    # resolution) — no exchange/join/window
    p70 = plan_of(entry.q_txt_links(spark, SF))
    sections.append(("Hyperlink extraction (txt_links)", p70))
    checks.append(("links: narrow map-only (no Exchange)",
                   "Exchange" not in p70 and "Join" not in p70))

    # 71. host graph: ONE partial-aggregated exchange on the host pair
    p71 = plan_of(entry.q_txt_host_graph(spark, SF))
    sections.append(("Host link graph (txt_host_graph)", p71))
    checks.append(("host graph: aggregate only, no join",
                   "Join" not in p71 and "Window" not in p71))
    checks.append(("host graph: map-side partial aggregation",
                   "partial" in p71.lower()))

    # 67. entity ambiguity: two cascaded aggregates with map-side partials,
    # no window (min-struct argmin), no join
    p67 = plan_of(entry.q_kg_entity_ambiguity(spark, SF))
    sections.append(("Entity type ambiguity (kg_entity_ambiguity)", p67))
    checks.append(("ambiguity: no window, no join",
                   "Window" not in p67 and "Join" not in p67))
    checks.append(("ambiguity: map-side partial aggregation",
                   "partial" in p67.lower()))

    # 68. type matrix: the distinct per-sentence type table is persisted
    # once and feeds both self-join sides; join keyed on (url, sent_idx)
    p68 = plan_of(entry.q_kg_type_matrix(spark, SF))
    sections.append(("Type co-occurrence matrix (kg_type_matrix)", p68))
    checks.append(("type matrix: type table persisted once",
                   "InMemoryTableScan" in p68))
    checks.append(("type matrix: sentence-local pairing join",
                   "url" in p68 and "sent_idx" in p68))

    # 69. triple diff: ONE aggregate over the triple chain — no join of
    # two snapshot derivations (both sides come from conditional counts)
    p69 = plan_of(entry.q_kg_triple_diff(spark, SF))
    sections.append(("Triple snapshot diff (kg_triple_diff)", p69))
    checks.append(("triple diff: single chain, no snapshot self-join",
                   "Join" not in p69 and "Window" not in p69))

    # 65. entity salience: the only window is PER-DOCUMENT (partitioned on
    # url) — no corpus-wide unpartitioned sort exists in the plan
    p65 = plan_of(entry.q_kg_entity_salience(spark, SF))
    sections.append(("Entity salience (kg_entity_salience)", p65))
    checks.append(("salience: window partitioned by url",
                   "windowspecdefinition(url" in p65))

    # 66. doc yield: the tagged pass is persisted once (InMemoryTableScan
    # feeds mention stats AND triples); all joins are url-keyed equi-joins,
    # no window anywhere
    p66 = plan_of(entry.q_kg_doc_yield(spark, SF))
    sections.append(("Per-document KG yield (kg_doc_yield)", p66))
    checks.append(("doc yield: tagged pass persisted once",
                   "InMemoryTableScan" in p66))
    checks.append(("doc yield: no window", "Window" not in p66))

    # 60. URL parse: pure narrow map — no exchange/join/window/aggregate
    p60 = plan_of(entry.q_txt_url_parse(spark, SF))
    sections.append(("URL parse + normalization (txt_url_parse)", p60))
    checks.append(("url parse: narrow map-only (no Exchange)",
                   "Exchange" not in p60 and "Join" not in p60))

    # 61. domain stats: ONE partial-aggregated exchange on reg_domain
    # (count-distinct adds its Expand, never a join or window)
    p61 = plan_of(entry.q_txt_domain_stats(spark, SF))
    sections.append(("Per-domain crawl dashboard (txt_domain_stats)", p61))
    checks.append(("domain stats: aggregate only, no join",
                   "Join" not in p61 and "Window" not in p61))
    checks.append(("domain stats: map-side partial aggregation",
                   "partial" in p61.lower()))

    # 62-64. line filter / html strip / encoding: all narrow map-only
    for name, fn in (
        ("txt_line_filter", entry.q_txt_line_filter),
        ("txt_html_strip", entry.q_txt_html_strip),
        ("txt_encoding", entry.q_txt_encoding),
    ):
        pw = plan_of(fn(spark, SF))
        sections.append((f"Web-ingestion narrow transform ({name})", pw))
        checks.append((f"{name}: narrow map-only (no Exchange)",
                       "Exchange" not in pw and "Join" not in pw
                       and "Window" not in pw))

    # 77. label propagation: adjacency persisted once; the only window is
    # the per-node vote (partitioned on dst) — never an unpartitioned sort
    p77 = plan_of(entry.q_kg_communities(spark, SF))
    sections.append(("Label-propagation communities (kg_communities)", p77))
    checks.append(("communities: adjacency persisted once",
                   "InMemoryTableScan" in p77))
    checks.append(("communities: vote argmax is a map-side-combining "
                   "min-struct aggregate (no window)",
                   "Window" not in p77 and "partial_min" in p77))

    # 78. deterministic walks: adjacency persisted once; each hop is an
    # aggregate argmin (min(struct)) — NO window anywhere in the plan
    p78 = plan_of(entry.q_kg_walks(spark, SF))
    sections.append(("Deterministic DeepWalk corpus (kg_walks)", p78))
    checks.append(("walks: adjacency persisted once",
                   "InMemoryTableScan" in p78))
    checks.append(("walks: argmin is aggregate, no window",
                   "Window" not in p78))

    # 79. fact intervals: windows partitioned by the fact key (never
    # corpus-wide), no join in the whole chain after the triple scan
    p79 = plan_of(entry.q_kg_fact_intervals(spark, SF))
    sections.append(("SCD2 fact intervals (kg_fact_intervals)", p79))
    checks.append(("fact intervals: window partitioned by fact key",
                   "windowspecdefinition(subj" in p79))
    checks.append(("fact intervals: map-side partial aggregation",
                   "partial" in p79.lower()))

    # 80. LM doc score: the doc-bigram table is persisted once and feeds
    # corpus aggregates AND the per-doc scoring join
    p80 = plan_of(entry.q_txt_lm_score(spark, SF))
    sections.append(("Per-doc LM score (txt_lm_score)", p80))
    checks.append(("lm score: bigram table persisted once",
                   "InMemoryTableScan" in p80))
    checks.append(("lm score: map-side partial aggregation",
                   "partial" in p80.lower()))

    # 81. importance weights: the distinct (doc, term) projection is
    # persisted once and feeds both df aggregates AND the scoring join
    p81 = plan_of(entry.q_txt_importance(spark, SF))
    sections.append(("DSIR importance weights (txt_importance)", p81))
    checks.append(("importance: doc-term table persisted once",
                   "InMemoryTableScan" in p81))
    checks.append(("importance: no window", "Window" not in p81))

    # 82. walk pairs: pair extraction is expression-side inside the path
    # array — ONE aggregate after the walk chain, no positional self-join
    p82 = plan_of(entry.q_kg_walk_pairs(spark, SF))
    sections.append(("Skip-gram walk pairs (kg_walk_pairs)", p82))
    checks.append(("walk pairs: no window (argmin hops + expression pairs)",
                   "Window" not in p82))

    # 83. degree distribution: two cascaded aggregates on top of the
    # co-occurrence chain (whose sentence-local pairing join is expected)
    # — the operator itself adds no window and partial-aggregates
    p83 = plan_of(entry.q_kg_degree_dist(spark, SF))
    sections.append(("Degree distribution (kg_degree_dist)", p83))
    checks.append(("degree dist: no window",
                   "Window" not in p83))
    checks.append(("degree dist: map-side partial aggregation",
                   "partial" in p83.lower()))

    # 84. fact churn: the interval chain's fact-partitioned windows plus
    # two cascaded aggregates — no join anywhere
    p84 = plan_of(entry.q_kg_fact_churn(spark, SF))
    sections.append(("Fact churn rollup (kg_fact_churn)", p84))
    checks.append(("fact churn: no join",
                   "Join" not in p84))
    checks.append(("fact churn: windows only on the fact key",
                   "windowspecdefinition(subj" in p84))

    # 85. crawl frontier: one dedup aggregate + ONE host-partitioned
    # window (rank + host total ride the same partition)
    p85 = plan_of(entry.q_txt_crawl_frontier(spark, SF))
    sections.append(("Crawl frontier (txt_crawl_frontier)", p85))
    checks.append(("frontier: window partitioned by host",
                   "windowspecdefinition(host" in p85))
    checks.append(("frontier: no join", "Join" not in p85))

    # 86. link prediction: the symmetrized adjacency is persisted once
    # (wedges x2 + degrees); RA rides the wedge aggregate (no extra join
    # beyond the common_neighbors shape); no window
    p86 = plan_of(entry.q_kg_link_predict(spark, SF))
    sections.append(("Link-prediction scores (kg_link_predict)", p86))
    checks.append(("link predict: adjacency persisted once",
                   "InMemoryTableScan" in p86))
    checks.append(("link predict: no window", "Window" not in p86))

    # 87. k-truss: per-round oriented edge table persisted/checkpointed,
    # map-side partial support aggregate, no window
    p87 = plan_of(entry.q_kg_ktruss(spark, SF))
    sections.append(("k-truss peel (kg_ktruss)", p87))
    checks.append(("ktruss: no window", "Window" not in p87))
    # each round localCheckpoints, so the final plan is a narrow
    # scan+project of the round-2 checkpoint blocks — lineage bounded
    # (the kcore posture); the per-round join/aggregate shape is the
    # triangles() plan already captured above
    checks.append(("ktruss: per-round checkpoint bounds lineage",
                   "ExistingRDD" in p87 and "Join" not in p87))

    # 88. pivot: explicit value list means ONE aggregate pass — no
    # distinct-collect job, no join, no expand beyond the pivot itself
    p88 = plan_of(entry.q_rel_pivot(spark, SF))
    sections.append(("Pivot with explicit values (rel_pivot)", p88))
    checks.append(("pivot: single aggregate, no join",
                   "Join" not in p88 and "Window" not in p88))
    checks.append(("pivot: map-side partial aggregation",
                   "partial" in p88.lower()))

    # 89. cube: ONE pass with Expand (the subtotal lattice), no union of
    # per-grouping aggregates, no join
    p89 = plan_of(entry.q_rel_cube(spark, SF))
    sections.append(("CUBE lattice (rel_cube)", p89))
    checks.append(("cube: Expand lattice in one pass", "Expand" in p89))
    checks.append(("cube: no join", "Join" not in p89))

    # 90. aHash: ONE Arrow-batched Python stage, narrow map-only
    p90 = plan_of(entry.q_mm_ahash(spark, SF))
    sections.append(("Perceptual average-hash (mm_ahash)", p90))
    checks.append(("ahash: vectorized Python stage, no key exchange "
                   "(ingest-spread round-robin only)",
                   "MapInPandas" in p90 and "hashpartitioning" not in p90
                   and "rangepartitioning" not in p90))

    # 91. PPR: adjacency persisted once across the unrolled power steps
    p91 = plan_of(entry.q_kg_ppr(spark, SF))
    sections.append(("Personalized PageRank (kg_ppr)", p91))
    checks.append(("ppr: adjacency persisted once",
                   "InMemoryTableScan" in p91))
    checks.append(("ppr: no window", "Window" not in p91))

    # 92. winnowing: hashing + window selection both expression-side in
    # the token array; ONE aggregate, no join, no window function
    p92 = plan_of(entry.q_dedup_winnowing(spark, SF))
    sections.append(("Winnowing fingerprints (dedup_winnowing)", p92))
    checks.append(("winnowing: aggregate only, no join",
                   "Join" not in p92 and "Window" not in p92))
    checks.append(("winnowing: map-side partial aggregation",
                   "partial" in p92.lower()))

    # 93. schema violations: bounded histogram aggregates + min-struct
    # argmax (no window in the SPARK plan; the oracle's row_number is the
    # twin), distinct-triple join on the predicate key
    p93 = plan_of(entry.q_kg_schema_violations(spark, SF))
    sections.append(("Schema violations (kg_schema_violations)", p93))
    checks.append(("schema violations: no window (min-struct argmax)",
                   "Window" not in p93))
    checks.append(("schema violations: map-side partial aggregation",
                   "partial" in p93.lower()))

    # 94. KMV registers: distinct projection persisted once (feeds count
    # AND the pruning join); rank window only over the PRUNED survivors
    p94 = plan_of(entry.q_txt_kmv_registers(spark, SF))
    sections.append(("KMV sketch registers (txt_kmv_registers)", p94))
    checks.append(("kmv: distinct projection persisted once",
                   "InMemoryTableScan" in p94))
    checks.append(("kmv: rank window partitioned by group",
                   "windowspecdefinition(lang" in p94))

    # 95. containment: same persisted-once df-capped pairing as jaccard;
    # scores are narrow derived columns (no extra pass)
    p95 = plan_of(entry.q_dedup_containment(spark, SF))
    sections.append(("Containment scores (dedup_containment)", p95))
    checks.append(("containment: shingle table persisted once",
                   "InMemoryTableScan" in p95))
    checks.append(("containment: no window", "Window" not in p95))

    # 96. semi/anti: the distinct order-customer dim broadcasts (never a
    # sort-merge against the corpus-side customer scan)
    p96 = plan_of(entry.q_rel_semi_anti(spark, SF))
    sections.append(("Semi/anti join flags (rel_semi_anti)", p96))
    checks.append(("semi/anti: broadcast dim join",
                   "BroadcastHashJoin" in p96))

    # 97. BPE merge-2: vocab persisted once (iteration-1 + re-count); the
    # chosen merge attaches via a 1-row BROADCAST cross join, no collect
    p97 = plan_of(entry.q_txt_bpe_merge2(spark, SF))
    sections.append(("BPE second iteration (txt_bpe_merge2)", p97))
    checks.append(("bpe merge2: vocab persisted once",
                   "InMemoryTableScan" in p97))
    checks.append(("bpe merge2: 1-row merge broadcast",
                   "BroadcastNestedLoopJoin" in p97))

    # 98. second-order walks: adjacency + pair table persisted once; the
    # prev-adjacency probe is a pair-keyed equi-join (no neighborhood
    # broadcast); argmin still aggregate-only (no window)
    p98 = plan_of(entry.q_kg_walks2(spark, SF))
    sections.append(("Second-order biased walks (kg_walks2)", p98))
    checks.append(("walks2: adjacency/pair tables persisted once",
                   "InMemoryTableScan" in p98))
    checks.append(("walks2: no window", "Window" not in p98))

    # 99. unpivot: Expand over the pivot aggregate — one pass, no join
    # beyond the pivot's own
    p99 = plan_of(entry.q_rel_unpivot(spark, SF))
    sections.append(("Unpivot/melt (rel_unpivot)", p99))
    checks.append(("unpivot: expand, no extra join",
                   "Expand" in p99 and "Join" not in p99))

    # 100. ANN recall: ground-truth table persisted once (feeds the query
    # list + both method joins); everything query-side-sized
    p100 = plan_of(entry.q_ann_recall(spark, SF))
    sections.append(("ANN recall dashboard (ann_recall)", p100))
    checks.append(("ann recall: ground truth persisted once",
                   "InMemoryTableScan" in p100))

    # 101. LSH quality: truth + candidate tables persisted once; the
    # three 1-row aggregates combine via broadcast cross joins, no collect
    p101 = plan_of(entry.q_dedup_lsh_quality(spark, SF))
    sections.append(("LSH quality summary (dedup_lsh_quality)", p101))
    checks.append(("lsh quality: truth/cand persisted once",
                   "InMemoryTableScan" in p101))
    checks.append(("lsh quality: 1-row combine is broadcast",
                   "BroadcastNestedLoopJoin" in p101))

    # 102. Z-order keys: pure projection — NO exchange, no join, no window
    # (the clustering sort is the rewrite job's, deliberately excluded)
    p102 = plan_of(entry.q_rel_zorder(spark, SF))
    sections.append(("Z-order clustering keys (rel_zorder)", p102))
    checks.append(("zorder: map-only (no Exchange)", "Exchange" not in p102))

    # 103. compaction plan: ONE window (cumsum per partition) + ONE agg;
    # no join anywhere
    p103 = plan_of(entry.q_rel_compaction_plan(spark, SF))
    sections.append(("Compaction planning (rel_compaction_plan)", p103))
    checks.append(("compaction: single window", p103.count("Window") >= 1
                   and "Join" not in p103))
    checks.append(("compaction: window keyed on part",
                   "windowspecdefinition(part" in p103))

    # 104. MERGE upsert: one full-outer join on the key; the three action
    # branches are projections over it (union, no second join)
    p104 = plan_of(entry.q_rel_merge_upsert(spark, SF))
    sections.append(("CDC MERGE upsert (rel_merge_upsert)", p104))
    checks.append(("merge: full-outer key join present", "FullOuter" in p104))
    checks.append(("merge: union of projections (single join per branch)",
                   "Union" in p104))

    # 105. skew report: key counts persisted once (feed ranking + total);
    # grand total attaches as a 1-row broadcast, never a collect
    p105 = plan_of(entry.q_txt_hot_keys(spark, SF))
    sections.append(("Hot-key skew report (txt_hot_keys)", p105))
    checks.append(("skew: counts persisted once", "InMemoryTableScan" in p105))
    checks.append(("skew: 1-row total broadcast",
                   "BroadcastNestedLoopJoin" in p105))

    # 106. tagger agreement: token-keyed equi-join; marginal windows run
    # over the aggregated |tagset|^2 matrix (windowspec on tag, not url)
    p106 = plan_of(entry.q_kg_tagger_agreement(spark, SF))
    sections.append(("Inter-tagger agreement (kg_tagger_agreement)", p106))
    checks.append(("agreement: marginal windows over tag matrix",
                   "windowspecdefinition(tag_a" in p106
                   and "windowspecdefinition(tag_b" in p106))

    # 107. type priors: ONE (surface, type) aggregate then windows
    # partitioned by surface over the aggregate (never over raw mentions)
    p107 = plan_of(entry.q_kg_type_priors(spark, SF))
    sections.append(("Type-prior disambiguation (kg_type_priors)", p107))
    checks.append(("type priors: window keyed on surface",
                   "windowspecdefinition(norm_surface" in p107))

    # 108. incremental co-occurrence: per-batch sentence-entity tables
    # persisted once, batches merged by Union + one final edge aggregate
    p108 = plan_of(entry.q_kg_cooccurrence_delta(spark, SF))
    sections.append(("Incremental co-occurrence merge (kg_cooccurrence_delta)", p108))
    checks.append(("cooc delta: union of batch aggregates", "Union" in p108))
    checks.append(("cooc delta: per-batch entity tables persisted once",
                   "InMemoryTableScan" in p108))

    # 109. WET parse: one grouping exchange (doc -> file), then explode +
    # string expressions only — no join
    p109 = plan_of(entry.q_txt_warc_records(spark, SF))
    sections.append(("WET record parse (txt_warc_records)", p109))
    checks.append(("wet: explode present, no join",
                   "Generate" in p109 and "Join" not in p109))

    # 110. robots: per-URL winner window keyed on doc_id (match set per
    # URL is rule-count-bounded, never corpus-sized)
    p110 = plan_of(entry.q_txt_robots_check(spark, SF))
    sections.append(("Robots exclusion decisions (txt_robots_check)", p110))
    checks.append(("robots: winner window keyed on doc_id",
                   "windowspecdefinition(doc_id" in p110))

    # 111. snapshot expiry: windows only (catalog-metadata-sized input),
    # no join
    p111 = plan_of(entry.q_rel_snapshot_expiry(spark, SF))
    sections.append(("Snapshot retention plan (rel_snapshot_expiry)", p111))
    checks.append(("snapshot expiry: window-only plan",
                   "Window" in p111 and "Join" not in p111))

    # 112. audio windows: metadata projection + in-place explode — NO
    # exchange, no Python
    p112 = plan_of(entry.q_mm_audio_windows(spark, SF))
    sections.append(("Audio window plan (mm_audio_windows)", p112))
    checks.append(("audio windows: map-only (no Exchange)",
                   "Exchange" not in p112))

    # 113. BFS distances: adjacency + per-round frontier persisted once
    # (each feeds the next round's join AND the min-merge), O(rounds)
    # join+agg pairs — never an all-pairs product
    p113 = plan_of(entry.q_kg_bfs_dist(spark, SF))
    sections.append(("Multi-source BFS distances (kg_bfs_dist)", p113))
    checks.append(("bfs: adjacency/frontier checkpointed (lineage truncated)",
                   "ExistingRDD" in p113))
    checks.append(("bfs: no cartesian product", "Cartesian" not in p113))

    # 114. as-of snapshot: a pure filter over the interval table (the
    # interval windows are fact_intervals' own; no new join)
    p114 = plan_of(entry.q_kg_asof_snapshot(spark, SF))
    sections.append(("Temporal as-of snapshot (kg_asof_snapshot)", p114))
    checks.append(("asof: filter-only over intervals (no join)",
                   "Join" not in p114))

    # 115. quotations: regex projections over the sentence scan + splice
    # union — no join, no window, no Python
    p115 = plan_of(entry.q_kg_quotations(spark, SF))
    sections.append(("Quotation attribution (kg_quotations)", p115))
    checks.append(("quotes: map-only union (no join/window/python)",
                   "Join" not in p115 and "Window" not in p115
                   and "Python" not in p115))

    # 116. column profile: ONE aggregate pass (a single pair of
    # HashAggregates around one exchange), explode over the 1-row result
    p116 = plan_of(entry.q_rel_profile(spark, SF))
    sections.append(("Column profiler (rel_profile)", p116))
    checks.append(("profile: explode over one aggregate pass, no join",
                   "Generate" in p116 and "Join" not in p116))

    # 117. incremental CC: nodes + LSH edge table persisted once (the
    # edge table feeds BOTH split branches — without it the LSH chain
    # would run twice); star rounds checkpoint (no InMemory needed there)
    p117 = plan_of(entry.q_er_components_delta(spark, SF))
    sections.append(("Incremental connected components (er_components_delta)", p117))
    checks.append(("cc delta: nodes/edges persisted once",
                   "InMemoryTableScan" in p117))

    # 118. video scenes: gaps-and-islands windows PARTITIONED BY doc over
    # the frame table (never a global window), one aggregate, no join
    p118 = plan_of(entry.q_mm_video_scenes(spark, SF))
    sections.append(("Scene segmentation (mm_video_scenes)", p118))
    checks.append(("scenes: windows keyed on doc_id",
                   "windowspecdefinition(doc_id" in p118))
    checks.append(("scenes: no join", "Join" not in p118))

    # 119. zone map: one aggregate keyed on zcell over the map-only
    # zorder projection — no window, no join
    p119 = plan_of(entry.q_rel_zone_map(spark, SF))
    sections.append(("Zone-map pruning stats (rel_zone_map)", p119))
    checks.append(("zone map: single agg, no join/window",
                   "Join" not in p119 and "Window" not in p119))

    # 120. doc-level co-occurrence: per-doc distinct entity table persisted
    # once (feeds both pairing sides), url-keyed join — page-local pairing
    p120 = plan_of(entry.q_kg_doc_cooccurrence(spark, SF))
    sections.append(("Doc-level co-occurrence (kg_doc_cooccurrence)", p120))
    checks.append(("doc cooc: entity table persisted once",
                   "InMemoryTableScan" in p120))
    checks.append(("doc cooc: no cartesian product", "Cartesian" not in p120))

    # 121. vocab coverage: ranked vocab persisted once (totals + per-k
    # lookups), totals attach as a broadcast 1-row aggregate
    p121 = plan_of(entry.q_txt_vocab_coverage(spark, SF))
    sections.append(("Vocab coverage dashboard (txt_vocab_coverage)", p121))
    checks.append(("vocab coverage: ranked table persisted once",
                   "InMemoryTableScan" in p121))
    checks.append(("vocab coverage: totals broadcast",
                   "BroadcastNestedLoopJoin" in p121))

    # 122. anchor aliases: surface-keyed equi-join (never nested-loop on
    # the corpus side); node table persisted once (feeds splice + join)
    p122 = plan_of(entry.q_er_anchor_aliases(spark, SF))
    sections.append(("Anchor-alias linking (er_anchor_aliases)", p122))
    checks.append(("anchor aliases: nodes persisted once",
                   "InMemoryTableScan" in p122))

    # 123. taxonomy closure: iterative doubling — every round starts from
    # the checkpointed distance table (bounded lineage: the final plan is
    # one join + one min-aggregate over Scan ExistingRDD, NOT a 3-round
    # tree), and the round join is an equi-join on the mid node
    p123 = plan_of(entry.q_kg_taxonomy_closure(spark, SF))
    sections.append(("Taxonomy min-hop closure (kg_taxonomy_closure)", p123))
    checks.append(("taxonomy closure: rounds checkpointed (bounded lineage)",
                   "Scan ExistingRDD" in p123))
    checks.append(("taxonomy closure: no cartesian product",
                   "Cartesian" not in p123))

    # 124. transitive reduction: the closure feeds both wedge sides from
    # its persisted/checkpointed form; witness join is an equi-join
    p124 = plan_of(entry.q_kg_transitive_reduction(spark, SF))
    sections.append(("Transitive reduction (kg_transitive_reduction)", p124))
    checks.append(("transitive reduction: closure materialized once",
                   "Scan ExistingRDD" in p124 or "InMemoryTableScan" in p124))
    checks.append(("transitive reduction: no cartesian product",
                   "Cartesian" not in p124))

    # 125. assortativity: the degree table is persisted once and feeds
    # both endpoint joins; the final global aggregate is partial (one-row
    # reduce, map-side combining does the work)
    p125 = plan_of(entry.q_kg_assortativity(spark, SF))
    sections.append(("Degree assortativity (kg_assortativity)", p125))
    checks.append(("assortativity: degree table persisted once",
                   "InMemoryTableScan" in p125))
    checks.append(("assortativity: partial global aggregate",
                   "partial_count" in p125 or "partial_sum" in p125))

    # 126. dangling refs: entity-granular LEFT ANTI join (never a filter
    # over a corpus-sized subquery), no window
    p126 = plan_of(entry.q_kg_dangling_refs(spark, SF))
    sections.append(("Dangling objects (kg_dangling_refs)", p126))
    checks.append(("dangling refs: left anti join", "LeftAnti" in p126))
    checks.append(("dangling refs: no window", "Window" not in p126))

    # 127. grouping sets: ONE Expand-based aggregate pass (no union of
    # three scans — the lattice expands rows, a single shuffle)
    p127 = plan_of(entry.q_rel_grouping_sets(spark, SF))
    sections.append(("GROUPING SETS lattice (rel_grouping_sets)", p127))
    checks.append(("grouping sets: single Expand pass, no union",
                   "Expand" in p127 and "Union" not in p127))

    # 128. pHash: one Arrow-batched Python stage, map-only (no exchange
    # anywhere — the signature is computed where the payload lives)
    p128 = plan_of(entry.q_mm_phash(spark, SF))
    sections.append(("Perceptual DCT hash (mm_phash)", p128))
    checks.append(("phash: vectorized map stage, no key exchange "
                   "(ingest-spread round-robin only)",
                   "MapInPandas" in p128 and "hashpartitioning" not in p128
                   and "rangepartitioning" not in p128))

    # 129. filter funnel: one corpus scan, windows only over the bounded
    # rule histogram (the single-partition window is |rules|+1 rows)
    p129 = plan_of(entry.q_txt_filter_funnel(spark, SF))
    sections.append(("Quality filter funnel (txt_filter_funnel)", p129))
    checks.append(("filter funnel: no join", "Join" not in p129))

    # 130. exact quantiles: ONE group-partitioned sort window + one
    # aggregate; no self-join, no approx sketch
    p130 = plan_of(entry.q_rel_quantiles(spark, SF))
    sections.append(("Exact group quantiles (rel_quantiles)", p130))
    checks.append(("quantiles: window partitioned by group key",
                   "windowspecdefinition(l_returnflag" in p130))
    checks.append(("quantiles: no join", "Join" not in p130))

    # 131. taxonomy rollup: one aggregate over the checkpointed closure
    p131 = plan_of(entry.q_kg_taxonomy_rollup(spark, SF))
    sections.append(("Taxonomy rollup (kg_taxonomy_rollup)", p131))
    checks.append(("taxonomy rollup: no window, closure checkpointed",
                   "Window" not in p131 and "Scan ExistingRDD" in p131))

    # 132. interval join: bucket binning makes it a plain hash equi-join
    # on the cell id — NO nested-loop and NO cartesian anywhere in the
    # plan (the naive range-join plan Spark would otherwise pick)
    p132 = plan_of(entry.q_rel_interval_join(spark, SF))
    sections.append(("Bucket-binned interval join (rel_interval_join)", p132))
    checks.append(("interval join: no nested loop / cartesian",
                   "NestedLoop" not in p132 and "Cartesian" not in p132))
    checks.append(("interval join: hash join on the cell key",
                   "_cell" in p132))

    # 133. pHash pairs: blocking table persisted once (feeds the bucket
    # cap aggregate and both self-join sides); Hamming verify is
    # expression-side (no Python stage beyond the signature kernel)
    p133 = plan_of(entry.q_mm_phash_pairs(spark, SF))
    sections.append(("pHash Hamming pairs (mm_phash_pairs)", p133))
    checks.append(("phash pairs: blocking table persisted once",
                   "InMemoryTableScan" in p133))
    checks.append(("phash pairs: no cartesian", "Cartesian" not in p133))

    # 134. incremental closure: seeded from the checkpointed old closure
    # (bounded lineage), equi-join rounds only
    p134 = plan_of(entry.q_kg_closure_delta(spark, SF))
    sections.append(("Incremental taxonomy closure (kg_closure_delta)", p134))
    checks.append(("closure delta: seeded from checkpoint",
                   "Scan ExistingRDD" in p134))
    checks.append(("closure delta: no cartesian", "Cartesian" not in p134))

    # 135. rule mining: the distinct fact table persisted once (feeds
    # both rule-join sides + the predicate marginal); (x,y)-keyed
    # equi-joins only
    p135 = plan_of(entry.q_kg_rule_mining(spark, SF))
    sections.append(("Horn-rule mining (kg_rule_mining)", p135))
    checks.append(("rule mining: fact table persisted once",
                   "InMemoryTableScan" in p135))
    checks.append(("rule mining: no cartesian", "Cartesian" not in p135))

    # 136. chain rules: body collapsed to distinct before the head join;
    # fact table persisted once; equi-joins only
    p136 = plan_of(entry.q_kg_chain_rules(spark, SF))
    sections.append(("Chain-rule mining (kg_chain_rules)", p136))
    checks.append(("chain rules: fact/body tables persisted",
                   "InMemoryTableScan" in p136))
    checks.append(("chain rules: no cartesian", "Cartesian" not in p136))

    # 137. triple dataset: the distinct fact table persisted once (feeds
    # positives AND the negative chain); the |vocab| count attaches as a
    # broadcast single row, never a collect
    p137 = plan_of(entry.q_kg_triple_dataset(spark, SF))
    sections.append(("Triple-classification dataset (kg_triple_dataset)", p137))
    checks.append(("triple dataset: fact table persisted once",
                   "InMemoryTableScan" in p137))
    checks.append(("triple dataset: vocab count broadcast",
                   "BroadcastNestedLoopJoin" in p137))

    # 138. phonetic keys: corpus collapses to the distinct surface vocab
    # BEFORE keying; pure expressions (no Python UDF stage)
    p138 = plan_of(entry.q_er_phonetic_keys(spark, SF))
    sections.append(("Phonetic blocking keys (er_phonetic_keys)", p138))
    checks.append(("phonetic keys: no python row UDF",
                   "BatchEvalPython" not in p138))
    checks.append(("phonetic keys: no window", "Window" not in p138))

    # 139. phonetic pairs: keyed surface vocabulary persisted once (feeds
    # the cap aggregate AND both self-join sides), bucket self-join is a
    # shuffled equi-join on pkey (never a broadcast of the corpus side),
    # Levenshtein verify is an expression (no Python UDF)
    p139 = plan_of(entry.q_er_phonetic_pairs(spark, SF))
    sections.append(("Phonetic candidate pairs (er_phonetic_pairs)", p139))
    checks.append(("phonetic pairs: keyed vocab persisted once",
                   "InMemoryTableScan" in p139))
    checks.append(("phonetic pairs: no python row UDF",
                   "BatchEvalPython" not in p139))
    checks.append(("phonetic pairs: levenshtein expression-side",
                   "levenshtein" in p139))

    # 140. voice segments: one Arrow-batched energy kernel, windows keyed
    # on doc_id only (one clip's chunks = one partition), no corpus-wide
    # exchange beyond the doc_id hash
    p140 = plan_of(entry.q_mm_voice_segments(spark, SF))
    sections.append(("Voice-activity segments (mm_voice_segments)", p140))
    checks.append(("voice segments: arrow-batched kernel",
                   "MapInPandas" in p140))
    checks.append(("voice segments: exchanges keyed on doc_id only",
                   "hashpartitioning(doc_id#" in p140
                   and "hashpartitioning(chunk_idx" not in p140))

    # 141. pronoun coref: antecedent lookup is a sentence-co-partitioned
    # equi-join (never a nested loop / cartesian); the winner window
    # partitions per pronoun occurrence; no Python UDF
    p141 = plan_of(entry.q_kg_pronoun_coref(spark, SF))
    sections.append(("Pronoun coreference (kg_pronoun_coref)", p141))
    checks.append(("pronoun coref: no cartesian/nested-loop join",
                   "CartesianProduct" not in p141
                   and "BroadcastNestedLoopJoin" not in p141))
    checks.append(("pronoun coref: no python row UDF",
                   "BatchEvalPython" not in p141))

    # 142. date extraction: pure map — regex explodes inside codegen,
    # no exchange, no join
    p142 = plan_of(entry.q_kg_dates(spark, SF))
    sections.append(("Temporal expressions (kg_dates)", p142))
    checks.append(("dates: no exchange (map-only)",
                   "Exchange" not in p142))
    checks.append(("dates: no join", "Join" not in p142))

    # 143. clustering coefficients: aggregated edge table persisted once
    # (degree aggregate + three triangle-join scans), no corpus broadcast
    p143 = plan_of(entry.q_kg_clustering_coeff(spark, SF))
    sections.append(("Clustering coefficients (kg_clustering_coeff)", p143))
    checks.append(("clustering coeff: edge table persisted once",
                   "InMemoryTableScan" in p143))
    checks.append(("clustering coeff: no cartesian",
                   "CartesianProduct" not in p143))

    # 144. html tables: pure map — nested regex explodes inside codegen
    p144 = plan_of(entry.q_txt_html_tables(spark, SF))
    sections.append(("HTML table extraction (txt_html_tables)", p144))
    checks.append(("html tables: no exchange (map-only)",
                   "Exchange" not in p144))
    checks.append(("html tables: no join", "Join" not in p144))

    # 145. grounded facts: doc-keyed shuffle join (url), no cartesian,
    # no python row UDF on the date side
    p145 = plan_of(entry.q_kg_grounded_facts(spark, SF))
    sections.append(("Date-grounded facts (kg_grounded_facts)", p145))
    checks.append(("grounded facts: no cartesian/nested-loop join",
                   "CartesianProduct" not in p145
                   and "BroadcastNestedLoopJoin" not in p145))

    # 146. fact certainty: classification is a pure map over the triple
    # union (no extra exchange beyond the triple chain's own, no window)
    p146 = plan_of(entry.q_kg_fact_certainty(spark, SF))
    sections.append(("Fact certainty (kg_fact_certainty)", p146))
    checks.append(("fact certainty: no cartesian",
                   "CartesianProduct" not in p146))
    checks.append(("fact certainty: no python row UDF",
                   "BatchEvalPython" not in p146))

    # 147. WL colors: symmetrized adjacency persisted once and scanned
    # every round; per-round exchanges are node-keyed joins/aggregates
    p147 = plan_of(entry.q_kg_wl_colors(spark, SF))
    sections.append(("WL refinement colors (kg_wl_colors)", p147))
    checks.append(("wl colors: adjacency persisted once",
                   "InMemoryTableScan" in p147))
    checks.append(("wl colors: no cartesian",
                   "CartesianProduct" not in p147))

    # 148. skyline: the global sweep window runs over the bounded per-x
    # candidate table (two aggregates before it), no join at all
    p148 = plan_of(entry.q_rel_skyline(spark, SF))
    sections.append(("2-D skyline (rel_skyline)", p148))
    checks.append(("skyline: no join", "Join" not in p148))
    checks.append(("skyline: windowed sweep present", "Window" in p148))

    # 149. itemsets: event + pair tables persisted once, every join
    # sentence-co-partitioned or keyed on the bounded frequent-pair
    # table, no cartesian
    p149 = plan_of(entry.q_kg_itemsets3(spark, SF))
    sections.append(("Apriori 3-itemsets (kg_itemsets3)", p149))
    checks.append(("itemsets: event/pair tables persisted",
                   "InMemoryTableScan" in p149))
    checks.append(("itemsets: no cartesian",
                   "CartesianProduct" not in p149))

    # 150. nominal coref: same plan contract as the pronoun sieve
    p150 = plan_of(entry.q_kg_nominal_coref(spark, SF))
    sections.append(("Nominal coreference (kg_nominal_coref)", p150))
    checks.append(("nominal coref: no cartesian/nested-loop join",
                   "CartesianProduct" not in p150
                   and "BroadcastNestedLoopJoin" not in p150))

    # 151. HITS: distinct edge list persisted once (feeds 2*rounds
    # join/agg pairs), per-round max as broadcast 1-row join, no
    # cartesian blowup beyond those single-row broadcasts
    p151 = plan_of(entry.q_kg_hits(spark, SF))
    sections.append(("HITS hubs/authorities (kg_hits)", p151))
    checks.append(("hits: node table persisted once + step vectors "
                   "checkpointed (lineage truncated)",
                   "InMemoryTableScan" in p151 and "ExistingRDD" in p151))
    checks.append(("hits: renormalization max is a broadcast join",
                   "BroadcastNestedLoopJoin BuildRight, Cross" in p151
                   or "BroadcastHashJoin" in p151))

    # 152. landmark centrality: adjacency persisted once; the only
    # global window is the bounded seed-selection rank
    p152 = plan_of(entry.q_kg_landmark_centrality(spark, SF))
    sections.append(("Landmark centrality (kg_landmark_centrality)", p152))
    checks.append(("landmark: adjacency/frontier checkpointed (lineage truncated)",
                   "ExistingRDD" in p152))
    checks.append(("landmark: no cartesian",
                   "CartesianProduct" not in p152))

    # 153. relation candidates: KB aggregated BEFORE the candidate join
    # (HashAggregate feeds the join build side), no cartesian
    p153 = plan_of(entry.q_kg_relation_candidates(spark, SF))
    sections.append(("Relation candidates (kg_relation_candidates)", p153))
    checks.append(("relation candidates: no cartesian/nested-loop join",
                   "CartesianProduct" not in p153
                   and "BroadcastNestedLoopJoin" not in p153))
    checks.append(("relation candidates: equi-joins only (hash-"
                   "partitionable at scale; AQE broadcasts at this SF)",
                   "BroadcastHashJoin" in p153 or "SortMergeJoin" in p153
                   or "ShuffledHashJoin" in p153))

    # 154. modularity: LPA label table persisted once (feeds both edge-
    # endpoint joins + the member aggregate); m is a broadcast 1-row join
    p154 = plan_of(entry.q_kg_modularity(spark, SF))
    sections.append(("Community modularity (kg_modularity)", p154))
    checks.append(("modularity: label/adjacency tables persisted",
                   "InMemoryTableScan" in p154))
    checks.append(("modularity: edge-count rides a broadcast 1-row join",
                   "BroadcastNestedLoopJoin BuildRight, Cross" in p154
                   or "BroadcastHashJoin" in p154))

    # 155. KGE eval: fact table persisted once (positives + vocab +
    # truth all flatten it); candidate expansion is an equi-join on the
    # type key; embedding hashing stays in codegen (no python UDF)
    p155 = plan_of(entry.q_kg_kge_eval(spark, SF))
    sections.append(("KGE filtered-ranking eval (kg_kge_eval)", p155))
    checks.append(("kge eval: fact/vocab tables persisted",
                   "InMemoryTableScan" in p155))
    checks.append(("kge eval: no cartesian",
                   "CartesianProduct" not in p155))
    checks.append(("kge eval: hash embeddings in codegen (no BatchEvalPython)",
                   "BatchEvalPython" not in p155))

    # 156. pair features: keyed vocabulary persisted once (cap aggregate
    # + both self-join sides); features are pure codegen (no python UDF)
    p156 = plan_of(entry.q_er_pair_features(spark, SF))
    sections.append(("ER pair features (er_pair_features)", p156))
    checks.append(("pair features: keyed vocab persisted",
                   "InMemoryTableScan" in p156))
    checks.append(("pair features: no python eval in feature expressions",
                   "BatchEvalPython" not in p156))

    # 157. path counts: adjacency + visited state checkpointed (state
    # feeds filter+anti-join+union — 3 appearances per round); per-round
    # frontier joins are equi-joins (no cartesian)
    p157 = plan_of(entry.q_kg_path_counts(spark, SF))
    sections.append(("Landmark path counts (kg_path_counts)", p157))
    checks.append(("path counts: adjacency/state checkpointed (lineage truncated)",
                   "ExistingRDD" in p157))
    checks.append(("path counts: no cartesian",
                   "CartesianProduct" not in p157))

    # 158. sitemaps: build is one hash aggregate; parse is a pure map
    # (no join anywhere in the chain)
    p158 = plan_of(entry.q_txt_sitemaps(spark, SF))
    sections.append(("Sitemap build+parse (txt_sitemaps)", p158))
    checks.append(("sitemaps: no join in the chain", "Join" not in p158))
    checks.append(("sitemaps: single host-keyed aggregate",
                   "HashAggregate" in p158 or "ObjectHashAggregate" in p158
                   or "SortAggregate" in p158))

    # 159. motif census: one aggregate over the triangle chain, no
    # python eval (array_sort of 3 literals is codegen)
    p159 = plan_of(entry.q_kg_motif_census(spark, SF))
    sections.append(("Typed motif census (kg_motif_census)", p159))
    checks.append(("motif census: no python eval",
                   "BatchEvalPython" not in p159))
    checks.append(("motif census: triangle wedge tables persisted",
                   "InMemoryTableScan" in p159))

    # 160. ego export: edge table persisted once (pagerank + induction);
    # root broadcast; no cartesian beyond the 1-row root cross join
    p160 = plan_of(entry.q_kg_ego_export(spark, SF))
    sections.append(("Ego-subgraph export (kg_ego_export)", p160))
    checks.append(("ego export: edge/dist tables checkpointed (lineage truncated"
                   " — dist feeds relax+merge+induction twice each)",
                   "ExistingRDD" in p160))
    checks.append(("ego export: root rides a broadcast",
                   "BroadcastExchange" in p160))

    # 161. local bridges: edge table persisted once (wedge sides + left
    # join back); no cartesian
    p161 = plan_of(entry.q_kg_local_bridges(spark, SF))
    sections.append(("Local bridges (kg_local_bridges)", p161))
    checks.append(("local bridges: edge table persisted",
                   "InMemoryTableScan" in p161))
    checks.append(("local bridges: no cartesian",
                   "CartesianProduct" not in p161))

    # 162. budget select: the corpus-sized window partitions on the score
    # BAND (never a global single-partition corpus sort); the only
    # unpartitioned window is over the bounded band-total table
    p162 = plan_of(entry.q_txt_budget_select(spark, SF))
    sections.append(("Token-budget selection (txt_budget_select)", p162))
    checks.append(("budget select: scored doc table persisted",
                   "InMemoryTableScan" in p162))
    checks.append(("budget select: banded window present",
                   "Window" in p162))

    # 163. gopher flags: pure map — no exchange, no join, no python
    p163 = plan_of(entry.q_txt_gopher_flags(spark, SF))
    sections.append(("Gopher rule flags (txt_gopher_flags)", p163))
    checks.append(("gopher flags: no exchange (pure narrow map)",
                   "Exchange" not in p163))
    checks.append(("gopher flags: no python eval",
                   "BatchEvalPython" not in p163))

    # 164. sameAs export: pure projection over the alias chain (the only
    # joins/windows are the alias chain's own)
    p164 = plan_of(entry.q_kg_sameas(spark, SF))
    sections.append(("owl:sameAs export (kg_sameas)", p164))
    checks.append(("sameas: no python eval", "BatchEvalPython" not in p164))
    checks.append(("sameas: ER chain persisted once",
                   "InMemoryTableScan" in p164))

    # 165. kmeans update: codebook broadcast, corpus never broadcast, one
    # bounded-output aggregate; no python eval
    p165 = plan_of(entry.q_ann_kmeans_update(spark, SF))
    sections.append(("Distributed Lloyd update (ann_kmeans_update)", p165))
    checks.append(("kmeans update: codebook broadcast join",
                   "BroadcastNestedLoopJoin" in p165 or "BroadcastExchange" in p165))
    checks.append(("kmeans update: partial aggregate (map-side combine)",
                   "partial" in p165.lower()))
    checks.append(("kmeans update: no python eval",
                   "BatchEvalPython" not in p165))

    # 165b. DistMult eval: identical plan family as kg_kge_eval (the only
    # change is the score expression) — type-blocked join + per-triple window
    p165b = plan_of(entry.q_kg_kge_distmult(spark, SF))
    sections.append(("DistMult filtered-ranking eval (kg_kge_distmult)", p165b))
    checks.append(("kge distmult: per-triple ranking window present",
                   "Window" in p165b))
    checks.append(("kge distmult: no python eval in the ranking chain",
                   "BatchEvalPython" not in p165b.split("Window")[0]))

    # 166. predicate signatures: window runs over the bounded signature
    # aggregate (HashAggregate below the Window), no join
    p166 = plan_of(entry.q_kg_pred_signatures(spark, SF))
    sections.append(("Predicate domain/range signatures (kg_pred_signatures)", p166))
    checks.append(("pred signatures: window present over aggregate",
                   "Window" in p166 and "HashAggregate" in p166))
    checks.append(("pred signatures: no sort-merge join (agg-then-window only)",
                   "SortMergeJoin" not in p166))

    # 167. landmark betweenness: forward + backward sweeps all ride
    # checkpointed state (lineage truncated), no cartesian anywhere
    p167 = plan_of(entry.q_kg_betweenness(spark, SF))
    sections.append(("Landmark betweenness (kg_betweenness)", p167))
    checks.append(("betweenness: state checkpointed (lineage truncated)",
                   "ExistingRDD" in p167))
    checks.append(("betweenness: no cartesian product",
                   "CartesianProduct" not in p167))

    # 168. sorted neighborhood: banded rank (no global single-partition
    # sort of the vocabulary — the band-total prefix window is the only
    # unpartitioned window, over a bounded table), offsets broadcast,
    # ranked vocab persisted once
    p168 = plan_of(entry.q_er_sorted_neighborhood(spark, SF))
    sections.append(("Sorted-neighborhood blocking (er_sorted_neighborhood)", p168))
    checks.append(("sorted neighborhood: band offsets broadcast",
                   "BroadcastExchange" in p168))
    checks.append(("sorted neighborhood: ranked vocab persisted once",
                   "InMemoryTableScan" in p168))
    checks.append(("sorted neighborhood: no python eval",
                   "BatchEvalPython" not in p168.split("InMemoryTableScan")[-1]))

    # 169. ComplEx eval: identical plan family as kg_kge_eval — the
    # asymmetric score is pure codegen arithmetic, ranking window intact
    p169 = plan_of(entry.q_kg_kge_complex(spark, SF))
    sections.append(("ComplEx filtered-ranking eval (kg_kge_complex)", p169))
    checks.append(("kge complex: per-triple ranking window present",
                   "RunningWindowFunction" in p169 or "Window" in p169))
    checks.append(("kge complex: no python eval in the ranking chain",
                   "BatchEvalPython" not in p169))

    # 170. ANF/HyperBall: per-round register state checkpointed (the
    # er.hits lineage rule — state feeds stats + join + union), no
    # cartesian, max-merge is a partial (map-side combining) aggregate
    p170 = plan_of(entry.q_kg_anf(spark, SF))
    sections.append(("ANF / HyperBall sketches (kg_anf)", p170))
    checks.append(("anf: register state checkpointed (lineage truncated)",
                   "ExistingRDD" in p170))
    checks.append(("anf: no cartesian product",
                   "CartesianProduct" not in p170))
    checks.append(("anf: map-side partial max-merge",
                   "partial_max" in p170 or "partial_" in p170))

    # 171. MIS: undecided state checkpointed per round, the defeat test
    # is an anti-join (no python), nothing cartesian
    p171 = plan_of(entry.q_kg_mis(spark, SF))
    sections.append(("Maximal independent set (kg_mis)", p171))
    checks.append(("mis: undecided state checkpointed (lineage truncated)",
                   "ExistingRDD" in p171))
    checks.append(("mis: no cartesian product",
                   "CartesianProduct" not in p171))
    checks.append(("mis: no python eval",
                   "BatchEvalPython" not in p171))

    # 172. densest subgraph: alive state checkpointed per peel round,
    # no cartesian, degree aggregate partially (map-side) combined
    p172 = plan_of(entry.q_kg_densest(spark, SF))
    sections.append(("Densest-subgraph peel (kg_densest)", p172))
    checks.append(("densest: alive state checkpointed (lineage truncated)",
                   "ExistingRDD" in p172))
    checks.append(("densest: no cartesian product",
                   "CartesianProduct" not in p172))
    checks.append(("densest: no python eval",
                   "BatchEvalPython" not in p172))

    # 173. greedy max-coverage: the query's own loop runs eagerly (the
    # result is k local rows), so capture the ROUND plan: per-doc
    # marginal count + top-1, which must compile to TakeOrdered
    # (per-partition heads), never a global sort, with a partial
    # (map-side) count
    from unsupervised_ner_spark.ops.curation import coverage_round_top1
    from unsupervised_ner_spark.pipeline import er as _er

    _typed = entry._typed_production(spark, SF)
    _occ = _er.entity_occurrences(
        _typed.select("url", "sent_idx", "mention_idx", "surface",
                      "pred_group")
    )
    _pairs = _occ.select(
        "url", F.concat_ws("|", "norm_surface", "etype").alias("ent")
    ).distinct()
    p173 = plan_of(coverage_round_top1(_pairs))
    sections.append(("Greedy max-coverage round (txt_max_coverage)", p173))
    checks.append(("max-coverage: top-1 is TakeOrdered, not a global sort",
                   "TakeOrderedAndProject" in p173))
    checks.append(("max-coverage: map-side partial count",
                   "partial_count" in p173))
    checks.append(("max-coverage: no python eval",
                   "BatchEvalPython" not in p173))

    # 174. h-index coreness: value state checkpointed per round, the
    # per-node window partitions on the node key (no unpartitioned
    # window), no cartesian
    p174 = plan_of(entry.q_kg_coreness(spark, SF))
    sections.append(("H-index coreness (kg_coreness)", p174))
    checks.append(("coreness: value state checkpointed (lineage truncated)",
                   "ExistingRDD" in p174))
    checks.append(("coreness: no cartesian product",
                   "CartesianProduct" not in p174))
    checks.append(("coreness: no python eval",
                   "BatchEvalPython" not in p174))

    # 175. SCC coloring: per-outer-round state checkpointed (the color
    # table feeds every inner step AND the pivot filter; the
    # active-restricted edge table feeds all inner joins), no cartesian,
    # no python eval
    p175 = plan_of(entry.q_kg_scc(spark, SF))
    sections.append(("SCC coloring (kg_scc)", p175))
    checks.append(("scc: color/reach state checkpointed (lineage truncated)",
                   "ExistingRDD" in p175))
    checks.append(("scc: no cartesian product",
                   "CartesianProduct" not in p175))
    checks.append(("scc: no python eval",
                   "BatchEvalPython" not in p175))

    # 176. weighted SSSP: the symmetrized weighted adjacency is
    # checkpointed once and reused every relaxation (the bfs_distances
    # rule). The per-round checkpoint hides the relaxation from the final
    # plan (Scan ExistingRDD), so the ROUND plan is captured separately
    # (the max-coverage precedent) and must show the frontier equi-join
    # + map-side partial min.
    p176 = plan_of(entry.q_kg_sssp(spark, SF))
    sections.append(("Weighted SSSP (kg_sssp)", p176))
    checks.append(("sssp: final state checkpointed (lineage truncated)",
                   "ExistingRDD" in p176))
    checks.append(("sssp: no cartesian product",
                   "CartesianProduct" not in p176))
    _wsym = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 2)], "src string, dst string, w long"
    )
    _wd = spark.createDataFrame([("a", 0)], "k string, dist long")
    p176r = plan_of(_er.sssp_relax_round(_wsym, _wd))
    sections.append(("Weighted SSSP relaxation round (kg_sssp)", p176r))
    checks.append(("sssp round: map-side partial min in relaxation",
                   "partial_min" in p176r))
    checks.append(("sssp round: no python eval",
                   "BatchEvalPython" not in p176r))

    # 177. butterflies: closed-form C(c,2) per already-aggregated pair
    # row — one partial-sum aggregate over the symmetrizing union, no
    # join at all downstream of the pair table, no python eval
    p177 = plan_of(entry.q_kg_butterflies(spark, SF))
    sections.append(("Butterfly counts (kg_butterflies)", p177))
    checks.append(("butterflies: map-side partial sum",
                   "partial_sum" in p177))
    checks.append(("butterflies: no python eval",
                   "BatchEvalPython" not in p177))
    checks.append(("butterflies: no cartesian product",
                   "CartesianProduct" not in p177))

    # 178. textrank: the symmetrized edge table + strength are
    # checkpointed once (feed every power step); the power-step sums and
    # the final aggregate partially aggregate map-side; no python eval
    p178 = plan_of(entry.q_txt_textrank(spark, SF))
    sections.append(("TextRank keywords (txt_textrank)", p178))
    checks.append(("textrank: edge/strength tables checkpointed",
                   "ExistingRDD" in p178))
    checks.append(("textrank: map-side partial sum in power step",
                   "partial_sum" in p178))
    checks.append(("textrank: no python eval",
                   "BatchEvalPython" not in p178))
    checks.append(("textrank: no cartesian product",
                   "CartesianProduct" not in p178))

    # 179. FS weights: constant 4-way stack fan-out + one map-side
    # combining aggregate over the 4-row feature vocabulary
    p179 = plan_of(entry.q_er_em_weights(spark, SF))
    sections.append(("Fellegi-Sunter weights (er_em_weights)", p179))
    checks.append(("fs: map-side partial aggregation",
                   "partial_sum" in p179))
    checks.append(("fs: no python eval", "BatchEvalPython" not in p179))
    checks.append(("fs: no cartesian product",
                   "CartesianProduct" not in p179))

    # 180. Borůvka MSF: weighted edge table + labels checkpointed per
    # round; min-edge selection is a component-partitioned window (never
    # an unpartitioned global sort); no cartesian, no python eval
    p180 = plan_of(entry.q_kg_msf(spark, SF))
    sections.append(("Borůvka MSF (kg_msf)", p180))
    checks.append(("msf: per-round state checkpointed (lineage truncated)",
                   "ExistingRDD" in p180))
    checks.append(("msf: no cartesian product",
                   "CartesianProduct" not in p180))
    checks.append(("msf: no python eval", "BatchEvalPython" not in p180))

    # 181. BM25: the query-term filter lands BEFORE the tf aggregate and
    # any join (per-query cost = |query| postings, not the corpus); df
    # and totals ride in as broadcasts; map-side partial aggregation
    p181 = plan_of(entry.q_txt_bm25(spark, SF))
    sections.append(("BM25 ranked retrieval (txt_bm25)", p181))
    checks.append(("bm25: query dims broadcast",
                   "BroadcastHashJoin" in p181 or "BroadcastNestedLoopJoin"
                   in p181))
    checks.append(("bm25: map-side partial aggregation",
                   "partial_count" in p181 or "partial_sum" in p181))
    checks.append(("bm25: no python eval", "BatchEvalPython" not in p181))
    checks.append(("bm25: no cartesian product",
                   "CartesianProduct" not in p181))

    # 182. taxonomy depth: bounded consumer over the closure — root
    # anti-join + map-side-combining depth aggregate, no python eval
    p182 = plan_of(entry.q_kg_taxonomy_depth(spark, SF))
    sections.append(("Taxonomy depth (kg_taxonomy_depth)", p182))
    checks.append(("taxdepth: no python eval",
                   "BatchEvalPython" not in p182))
    checks.append(("taxdepth: no cartesian product",
                   "CartesianProduct" not in p182))

    # 183. PPJoin: shingle table persisted once (feeds df aggregate,
    # prefix ranking, and both verify sides); per-doc prefix ranking is
    # a doc-partitioned window (no global sort); candidate join +
    # verify only — no cartesian, no python eval
    p183 = plan_of(entry.q_dedup_ppjoin(spark, SF))
    sections.append(("PPJoin exact similarity join (dedup_ppjoin)", p183))
    checks.append(("ppjoin: shingle table persisted once",
                   "InMemoryRelation" in p183))
    checks.append(("ppjoin: no cartesian product",
                   "CartesianProduct" not in p183))
    checks.append(("ppjoin: no python eval",
                   "BatchEvalPython" not in p183))

    # 184. SCC condensation: label joins + bounded pair aggregate on top
    # of the checkpointed scc state; no cartesian, no python eval
    p184 = plan_of(entry.q_kg_condensation(spark, SF))
    sections.append(("SCC condensation DAG (kg_condensation)", p184))
    checks.append(("condensation: scc state checkpointed",
                   "ExistingRDD" in p184))
    checks.append(("condensation: no cartesian product",
                   "CartesianProduct" not in p184))
    checks.append(("condensation: no python eval",
                   "BatchEvalPython" not in p184))

    # 185. entity top-facts: salience union-aggregate over the bounded
    # support table; rank window partitions on subj_id (per-entity sort,
    # never global); map-side partial sum
    p185 = plan_of(entry.q_kg_entity_facts(spark, SF))
    sections.append(("Entity top-facts (kg_entity_facts)", p185))
    checks.append(("entity facts: map-side partial sum in salience",
                   "partial_sum" in p185))
    checks.append(("entity facts: rank window partitioned on subj_id",
                   "hashpartitioning(subj_id" in p185))
    checks.append(("entity facts: no cartesian product",
                   "CartesianProduct" not in p185))
    checks.append(("entity facts: no python eval",
                   "BatchEvalPython" not in p185))

    # 186. PRA features: path-type aggregate over the degree-capped
    # 2-hop product + left join vs the direct-edge aggregate; support
    # table persisted once (feeds paths and direct side)
    p186 = plan_of(entry.q_kg_pra(spark, SF))
    sections.append(("PRA path-type features (kg_pra)", p186))
    checks.append(("pra: support table persisted once",
                   "InMemoryRelation" in p186))
    checks.append(("pra: no cartesian product",
                   "CartesianProduct" not in p186))
    checks.append(("pra: no python eval", "BatchEvalPython" not in p186))

    # 187. RAKE: phrase windows partitioned per document (never global
    # except the final bounded top-k), phrase table persisted once
    # (feeds word stats, type scores, and occurrence counts)
    p187 = plan_of(entry.q_txt_rake(spark, SF))
    sections.append(("RAKE keyphrases (txt_rake)", p187))
    checks.append(("rake: phrase table persisted once",
                   "InMemoryRelation" in p187))
    checks.append(("rake: run segmentation windows partitioned per doc",
                   "hashpartitioning(doc_id" in p187))
    checks.append(("rake: no cartesian product",
                   "CartesianProduct" not in p187))
    checks.append(("rake: no python eval", "BatchEvalPython" not in p187))

    # 188. rule application: fact table persisted once (feeds mining,
    # instantiation, anti-join); kept rule set broadcast into the
    # instantiation joins; anti-join present
    p188 = plan_of(entry.q_kg_inferred_triples(spark, SF))
    sections.append(("Forward chaining (kg_inferred_triples)", p188))
    checks.append(("inferred: fact table persisted once",
                   "InMemoryRelation" in p188))
    checks.append(("inferred: rules broadcast into instantiation",
                   "BroadcastHashJoin" in p188))
    checks.append(("inferred: anti-join vs existing facts",
                   "LeftAnti" in p188))
    checks.append(("inferred: no cartesian product",
                   "CartesianProduct" not in p188))

    # 189. truth discovery: claim table persisted once (votes, source
    # quality, re-vote); source-quality table broadcast; windows
    # partitioned on (subj, pred_norm), never global
    p189 = plan_of(entry.q_kg_truth_discovery(spark, SF))
    sections.append(("Truth discovery (kg_truth_discovery)", p189))
    checks.append(("truth: claim table persisted once",
                   "InMemoryRelation" in p189))
    checks.append(("truth: source quality broadcast into re-vote",
                   "BroadcastHashJoin" in p189))
    checks.append(("truth: windows partitioned on (subj, pred_norm)",
                   "hashpartitioning(subj" in p189))
    checks.append(("truth: no cartesian product",
                   "CartesianProduct" not in p189))

    # 190. JP coloring: per-round state checkpointed (lineage truncated,
    # so the final plan reads from checkpoint RDDs, not a 3-round tree);
    # no cartesian product, no python eval
    p190 = plan_of(entry.q_kg_coloring(spark, SF))
    sections.append(("Jones-Plassmann coloring (kg_coloring)", p190))
    checks.append(("coloring: round state checkpointed",
                   "Scan ExistingRDD" in p190))
    checks.append(("coloring: no cartesian product",
                   "CartesianProduct" not in p190))
    checks.append(("coloring: no python eval", "BatchEvalPython" not in p190))

    # 191. Katz index: symmetrized adjacency persisted once (feeds the
    # degree aggregate + all three hop joins), hop joins are equi-joins,
    # final aggregate map-side combines (partial_ before the exchange)
    p191 = plan_of(entry.q_kg_katz(spark, SF))
    sections.append(("Truncated Katz index (kg_katz)", p191))
    checks.append(("katz: adjacency persisted once",
                   "InMemoryRelation" in p191))
    checks.append(("katz: no cartesian product",
                   "CartesianProduct" not in p191))
    checks.append(("katz: map-side partial aggregation",
                   "partial_" in p191))
    checks.append(("katz: no python eval", "BatchEvalPython" not in p191))

    # 192. acronyms: pure narrow extraction — regexp + array expressions
    # + one aggregate; NO join anywhere, no python eval
    p192 = plan_of(entry.q_kg_acronyms(spark, SF))
    sections.append(("Acronym definitions (kg_acronyms)", p192))
    checks.append(("acronyms: no join at all",
                   "Join" not in p192 and "CartesianProduct" not in p192))
    checks.append(("acronyms: map-side partial aggregation",
                   "partial_" in p192))
    checks.append(("acronyms: no python eval", "BatchEvalPython" not in p192))

    # 193. topo layering: per-round alive state checkpointed; peels are
    # anti-joins; no cartesian product, no python eval
    p193 = plan_of(entry.q_kg_topo_layers(spark, SF))
    sections.append(("Kahn topological layering (kg_topo_layers)", p193))
    checks.append(("topo: round state checkpointed",
                   "Scan ExistingRDD" in p193))
    checks.append(("topo: zero-indegree peel is an anti-join",
                   "LeftAnti" in p193))
    checks.append(("topo: no cartesian product",
                   "CartesianProduct" not in p193))
    checks.append(("topo: no python eval", "BatchEvalPython" not in p193))

    # 194. Good-Turing: two cascaded map-side-combining aggregates +
    # one bounded self-join; no window over a single global partition
    p194 = plan_of(entry.q_txt_good_turing(spark, SF))
    sections.append(("Good-Turing fof (txt_good_turing)", p194))
    checks.append(("gt: map-side partial aggregation", "partial_" in p194))
    checks.append(("gt: no global single-partition window",
                   "Window" not in p194))
    checks.append(("gt: no python eval", "BatchEvalPython" not in p194))

    # 195. bloom semi-join: bit table and truth keys ride BROADCAST joins
    # (the probe side never shuffles); final aggregate is 3 groups
    p195 = plan_of(entry.q_rel_bloom_semijoin(spark, SF))
    sections.append(("Bloom semi-join audit (rel_bloom_semijoin)", p195))
    checks.append(("bloom: bit/truth tables broadcast",
                   "BroadcastHashJoin" in p195))
    # the only key exchange is the BUILD-side distinct (bounded); the
    # probe side joins exclusively by broadcast — no shuffle join at all
    checks.append(("bloom: no shuffle join anywhere",
                   "SortMergeJoin" not in p195
                   and "ShuffledHashJoin" not in p195))
    checks.append(("bloom: no python eval", "BatchEvalPython" not in p195))

    # 196. C4 filters: pure narrow map — no join, no exchange beyond the
    # scan, no python eval
    p196 = plan_of(entry.q_txt_c4_filters(spark, SF))
    sections.append(("C4 named rules (txt_c4_filters)", p196))
    checks.append(("c4: no join at all",
                   "Join" not in p196 and "CartesianProduct" not in p196))
    checks.append(("c4: no exchange (map-only)", "Exchange" not in p196))
    checks.append(("c4: no python eval", "BatchEvalPython" not in p196))

    # 197. role facts: regexp scan + one map-side-combining aggregate,
    # no join
    p197 = plan_of(entry.q_kg_role_facts(spark, SF))
    sections.append(("Role-pattern facts (kg_role_facts)", p197))
    checks.append(("roles: no join at all",
                   "Join" not in p197 and "CartesianProduct" not in p197))
    checks.append(("roles: map-side partial aggregation", "partial_" in p197))
    checks.append(("roles: no python eval", "BatchEvalPython" not in p197))

    # 198. measurements: pure narrow map (regexp + bounded unit CASE)
    p198 = plan_of(entry.q_kg_measurements(spark, SF))
    sections.append(("Measurement facts (kg_measurements)", p198))
    checks.append(("meas: no join at all",
                   "Join" not in p198 and "CartesianProduct" not in p198))
    checks.append(("meas: no exchange (map-only)", "Exchange" not in p198))
    checks.append(("meas: no python eval", "BatchEvalPython" not in p198))

    # 199. conversion funnel: every stage keyed on user_id — equi-joins
    # only (never a nested loop over event history), map-side-combining
    # per-step min aggregates, no python eval
    p199 = plan_of(entry.q_rel_funnel(spark, SF))
    sections.append(("Conversion funnel (rel_funnel)", p199))
    checks.append(("funnel: no nested-loop/cartesian join",
                   "CartesianProduct" not in p199
                   and "BroadcastNestedLoopJoin" not in p199))
    checks.append(("funnel: map-side partial aggregation", "partial_" in p199))
    checks.append(("funnel: no python eval", "BatchEvalPython" not in p199))

    # 200. cohort retention: user-keyed aggregates + equi-joins of
    # user-bounded tables — never a window over event history
    p200 = plan_of(entry.q_rel_retention(spark, SF))
    sections.append(("Cohort retention (rel_retention)", p200))
    checks.append(("retention: no nested-loop/cartesian join",
                   "CartesianProduct" not in p200
                   and "BroadcastNestedLoopJoin" not in p200))
    checks.append(("retention: map-side partial aggregation",
                   "partial_" in p200))
    checks.append(("retention: no window over events", "Window" not in p200))
    checks.append(("retention: no python eval", "BatchEvalPython" not in p200))

    # 201. vocab drift: explode + ONE (tok)-keyed aggregate — the A/B
    # merge is the conditional-sum pivot, never a vocabulary join; the
    # totals enter as a 1-row broadcast cross join
    p201 = plan_of(entry.q_txt_vocab_drift(spark, SF))
    sections.append(("Vocabulary drift (txt_vocab_drift)", p201))
    checks.append(("drift: no shuffle join (pivot-merged, not joined)",
                   "SortMergeJoin" not in p201
                   and "ShuffledHashJoin" not in p201))
    checks.append(("drift: map-side partial aggregation", "partial_" in p201))
    checks.append(("drift: no python eval", "BatchEvalPython" not in p201))

    # 202. maximal matching: node-min AGGREGATE + equi-joins per round
    # (never an edge-edge self-join), checkpointed round state
    p202 = plan_of(entry.q_kg_matching(spark, SF))
    sections.append(("Greedy maximal matching (kg_matching)", p202))
    checks.append(("matching: no nested-loop/cartesian join",
                   "CartesianProduct" not in p202
                   and "BroadcastNestedLoopJoin" not in p202))
    checks.append(("matching: map-side partial aggregation",
                   "partial_" in p202))
    checks.append(("matching: round state materialized (lineage cut)",
                   "ExistingRDD" in p202))

    # 203. event transitions: one user-partitioned window + bounded
    # matrix aggregates — no nested loop, no python eval
    p203 = plan_of(entry.q_rel_transitions(spark, SF))
    sections.append(("Clickstream transitions (rel_transitions)", p203))
    checks.append(("transitions: no nested-loop/cartesian join",
                   "CartesianProduct" not in p203
                   and "BroadcastNestedLoopJoin" not in p203))
    checks.append(("transitions: map-side partial aggregation",
                   "partial_" in p203))
    checks.append(("transitions: no python eval",
                   "BatchEvalPython" not in p203))

    # 204. bipartite parity: star-loop CC + frontier BFS — equi-joins
    # only, checkpointed round state
    p204 = plan_of(entry.q_kg_bipartite(spark, SF))
    sections.append(("Bipartite parity (kg_bipartite)", p204))
    checks.append(("bipartite: no nested-loop/cartesian join",
                   "CartesianProduct" not in p204
                   and "BroadcastNestedLoopJoin" not in p204))
    checks.append(("bipartite: map-side partial aggregation",
                   "partial_" in p204))
    checks.append(("bipartite: round state materialized (lineage cut)",
                   "ExistingRDD" in p204))

    # 205. taxonomy LCA: ancestor-keyed equi-join pair product under the
    # descendant cap + pair-keyed min aggregates — no window over pairs,
    # scored table persisted once (feeds best/lca/hop-join)
    p205 = plan_of(entry.q_kg_lca(spark, SF))
    sections.append(("Taxonomy LCA (kg_lca)", p205))
    checks.append(("lca: no nested-loop/cartesian join",
                   "CartesianProduct" not in p205
                   and "BroadcastNestedLoopJoin" not in p205))
    checks.append(("lca: map-side partial aggregation", "partial_" in p205))
    checks.append(("lca: no window over the pair set", "Window" not in p205))
    checks.append(("lca: no python eval", "BatchEvalPython" not in p205))

    # 206. exact-substring runs: fingerprint-keyed anchor equi-join (no
    # cartesian), pair-diagonal-local window, map-side partial aggs
    p206 = plan_of(entry.q_dedup_substring_runs(spark, SF))
    sections.append(("Exact-substring runs (dedup_substring_runs)", p206))
    checks.append(("substring runs: no nested-loop/cartesian join",
                   "CartesianProduct" not in p206
                   and "BroadcastNestedLoopJoin" not in p206))
    checks.append(("substring runs: map-side partial aggregation",
                   "partial_" in p206))
    checks.append(("substring runs: island window is pair-diagonal-local",
                   "windowspecdefinition(doc_a" in p206))
    checks.append(("substring runs: no python eval",
                   "BatchEvalPython" not in p206))

    # 207. type inference: entity-keyed LeftAnti + sentence-local vote
    # equi-join + cascaded bounded aggregates — no window, no python
    p207 = plan_of(entry.q_kg_type_inference(spark, SF))
    sections.append(("Distant-supervision type inference (kg_type_inference)", p207))
    checks.append(("type inference: never-typed filter is LeftAnti",
                   "LeftAnti" in p207))
    checks.append(("type inference: no nested-loop/cartesian join",
                   "CartesianProduct" not in p207
                   and "BroadcastNestedLoopJoin" not in p207))
    checks.append(("type inference: map-side partial aggregation",
                   "partial_" in p207))
    checks.append(("type inference: no window", "Window" not in p207))

    # 208. cut application: bounded cuts table, doc-local interval-merge
    # window, doc-keyed joins, narrow array reconstruction — no python
    p208 = plan_of(entry.q_dedup_apply_cuts(spark, SF))
    sections.append(("Substring cut application (dedup_apply_cuts)", p208))
    checks.append(("apply cuts: no nested-loop/cartesian join",
                   "CartesianProduct" not in p208
                   and "BroadcastNestedLoopJoin" not in p208))
    checks.append(("apply cuts: map-side partial aggregation",
                   "partial_" in p208))
    checks.append(("apply cuts: no python eval",
                   "BatchEvalPython" not in p208))

    # 209. readability: one narrow map — no exchange, no join, no python
    p209 = plan_of(entry.q_txt_readability(spark, SF))
    sections.append(("FK readability (txt_readability)", p209))
    checks.append(("readability: zero shuffle", "Exchange" not in p209))
    checks.append(("readability: no python eval",
                   "BatchEvalPython" not in p209))
    checks.append(("readability: column-pruned scan (doc_id, text only)",
                   "ReadSchema: struct<doc_id:bigint,text:string>" in p209))

    # 210. MAD outliers: two group-partitioned windows + bounded joins,
    # no python, no nested loop
    p210 = plan_of(entry.q_rel_outliers(spark, SF))
    sections.append(("MAD outlier summary (rel_outliers)", p210))
    checks.append(("outliers: no nested-loop/cartesian join",
                   "CartesianProduct" not in p210
                   and "BroadcastNestedLoopJoin" not in p210))
    checks.append(("outliers: group-partitioned windows (never global)",
                   "windowspecdefinition(event_type" in p210
                   and "windowspecdefinition()" not in p210))
    checks.append(("outliers: no python eval",
                   "BatchEvalPython" not in p210))

    # 211. graph stats: bounded degree aggregate + single-row output —
    # the only window runs over the BOUNDED degree table
    p211 = plan_of(entry.q_kg_graph_stats(spark, SF))
    sections.append(("Graph health dashboard (kg_graph_stats)", p211))
    checks.append(("graph stats: no nested-loop/cartesian join",
                   "CartesianProduct" not in p211
                   and "BroadcastNestedLoopJoin" not in p211))
    checks.append(("graph stats: map-side partial aggregation",
                   "partial_" in p211))
    checks.append(("graph stats: no python eval",
                   "BatchEvalPython" not in p211))

    # 212. CUSUM changepoint: everything downstream of ONE bounded
    # (type, day) aggregate; type-partitioned windows; no python
    p212 = plan_of(entry.q_rel_changepoint(spark, SF))
    sections.append(("CUSUM changepoint (rel_changepoint)", p212))
    checks.append(("changepoint: no nested-loop/cartesian join",
                   "CartesianProduct" not in p212
                   and "BroadcastNestedLoopJoin" not in p212))
    checks.append(("changepoint: map-side partial aggregation",
                   "partial_" in p212))
    checks.append(("changepoint: type-partitioned windows (never global)",
                   "windowspecdefinition(event_type" in p212
                   and "windowspecdefinition()" not in p212))
    checks.append(("changepoint: no python eval",
                   "BatchEvalPython" not in p212))

    # 213. cluster quality: codebook broadcast against the corpus (the
    # kmeans_update posture), bounded separation join, no python
    p213 = plan_of(entry.q_ann_cluster_quality(spark, SF))
    sections.append(("Cluster diagnostics (ann_cluster_quality)", p213))
    checks.append(("cluster quality: codebook broadcast-joined",
                   "BroadcastNestedLoopJoin" in p213
                   or "BroadcastHashJoin" in p213))
    checks.append(("cluster quality: no corpus cartesian",
                   "CartesianProduct" not in p213))
    checks.append(("cluster quality: map-side partial aggregation",
                   "partial_" in p213))
    checks.append(("cluster quality: no python eval",
                   "BatchEvalPython" not in p213))

    # 214. PCA rule mining: distinct fact table persisted once (feeds 5
    # consumers), entity-keyed equi-joins only, bounded rule aggregates
    p214 = plan_of(entry.q_kg_rule_pca(spark, SF))
    sections.append(("PCA-confidence rules (kg_rule_pca)", p214))
    checks.append(("rule pca: no nested-loop/cartesian join",
                   "CartesianProduct" not in p214
                   and "BroadcastNestedLoopJoin" not in p214))
    checks.append(("rule pca: fact table persisted once",
                   "InMemoryTableScan" in p214))
    checks.append(("rule pca: map-side partial aggregation",
                   "partial_" in p214))

    # 215. partition skew: key-bounded aggregate then P-bounded
    # aggregate — never shuffles raw rows by the candidate key
    p215 = plan_of(entry.q_rel_partition_skew(spark, SF))
    sections.append(("Partition-skew simulator (rel_partition_skew)", p215))
    checks.append(("partition skew: no join at all",
                   "Join" not in p215))
    checks.append(("partition skew: map-side partial aggregation",
                   "partial_" in p215))
    checks.append(("partition skew: column-pruned scan (key only)",
                   "ReadSchema: struct<l_suppkey:bigint>" in p215))

    # 216. TPC-H Q3 showcase: both date filters pushed to the parquet
    # scans, customer dim broadcast, top-10 as TakeOrdered (never a
    # global sort), map-side partial aggregation
    p216 = plan_of(entry.q_rel_q3_topk(spark, SF))
    sections.append(("TPC-H Q3 top-k (rel_q3_topk)", p216))
    checks.append(("q3: order-date filter pushed to the orders scan",
                   "PushedFilters: [IsNotNull(o_orderdate), "
                   "LessThan(o_orderdate" in p216))
    checks.append(("q3: ship-date filter pushed to the lineitem scan",
                   "GreaterThan(l_shipdate" in p216))
    checks.append(("q3: customer dim broadcast",
                   "BroadcastHashJoin" in p216))
    checks.append(("q3: top-k is TakeOrdered, never a global sort",
                   "TakeOrderedAndProject" in p216
                   and "Sort [revenue_q" not in p216))
    checks.append(("q3: map-side partial aggregation",
                   "partial_" in p216))

    # 217. rich club: degree/min-degree histograms bounded, the
    # cumulative curve windows run over the bounded histogram only
    p217 = plan_of(entry.q_kg_richclub(spark, SF))
    sections.append(("Rich-club curve (kg_richclub)", p217))
    checks.append(("rich club: no nested-loop/cartesian join",
                   "CartesianProduct" not in p217
                   and "BroadcastNestedLoopJoin" not in p217))
    checks.append(("rich club: map-side partial aggregation",
                   "partial_" in p217))
    checks.append(("rich club: no python eval",
                   "BatchEvalPython" not in p217))

    # 218. OLS trend: everything downstream of ONE bounded (type, day)
    # aggregate; no window at all; min-day table broadcast
    p218 = plan_of(entry.q_rel_trend(spark, SF))
    sections.append(("OLS trend (rel_trend)", p218))
    checks.append(("trend: no window at all",
                   "Window" not in p218))
    checks.append(("trend: min-day table broadcast",
                   "BroadcastHashJoin" in p218))
    checks.append(("trend: map-side partial aggregation",
                   "partial_" in p218))
    checks.append(("trend: no python eval",
                   "BatchEvalPython" not in p218))

    # 219. SCD2: user-partitioned windows only (never global); the lead
    # window runs over the bounded island table
    p219 = plan_of(entry.q_rel_scd2(spark, SF))
    sections.append(("SCD2 history (rel_scd2)", p219))
    checks.append(("scd2: user-partitioned windows (never global)",
                   "windowspecdefinition(user_id" in p219
                   and "windowspecdefinition()" not in p219))
    checks.append(("scd2: map-side partial aggregation",
                   "partial_" in p219))
    checks.append(("scd2: no python eval",
                   "BatchEvalPython" not in p219))

    # 220. sparse cosine pairs: rare-term postings persisted once (feeds
    # both join sides + norms), no cartesian, map-side combine
    p220 = plan_of(entry.q_txt_cosine_pairs(spark, SF))
    sections.append(("Sparse TF-cosine pairs (txt_cosine_pairs)", p220))
    checks.append(("cosine pairs: no nested-loop/cartesian join",
                   "CartesianProduct" not in p220
                   and "BroadcastNestedLoopJoin" not in p220))
    checks.append(("cosine pairs: rare postings persisted once",
                   "InMemoryTableScan" in p220))
    checks.append(("cosine pairs: map-side partial aggregation",
                   "partial_" in p220))
    checks.append(("cosine pairs: no python eval",
                   "BatchEvalPython" not in p220))

    # 221. redirect chains: pointer table persisted per doubling round,
    # equi-joins only, no python
    p221 = plan_of(entry.q_txt_redirect_chains(spark, SF))
    sections.append(("Redirect-chain resolution (txt_redirect_chains)", p221))
    checks.append(("redirect chains: no nested-loop/cartesian join",
                   "CartesianProduct" not in p221
                   and "BroadcastNestedLoopJoin" not in p221))
    checks.append(("redirect chains: pointer table persisted",
                   "InMemoryTableScan" in p221))
    checks.append(("redirect chains: no python eval",
                   "BatchEvalPython" not in p221))

    # 222. RRF fusion: query-filtered postings (bm25 posture) twice, the
    # fusion join is k_each-bounded, dims broadcast, no python
    p222 = plan_of(entry.q_txt_rank_fusion(spark, SF))
    sections.append(("RRF rank fusion (txt_rank_fusion)", p222))
    checks.append(("rrf: map-side partial aggregation",
                   "partial_" in p222))
    checks.append(("rrf: idf/totals dims broadcast",
                   "BroadcastHashJoin" in p222))
    checks.append(("rrf: no python eval",
                   "BatchEvalPython" not in p222))

    # 223. hard negatives: query side broadcast against ONE corpus scan
    # (the bruteforce posture), per-query bounded window
    p223 = plan_of(entry.q_ann_hard_negatives(spark, SF))
    sections.append(("Hard-negative mining (ann_hard_negatives)", p223))
    checks.append(("hard negatives: query side broadcast",
                   "BroadcastNestedLoopJoin" in p223
                   or "BroadcastHashJoin" in p223))
    checks.append(("hard negatives: query-partitioned window (never global)",
                   "windowspecdefinition(query_id" in p223
                   and "windowspecdefinition()" not in p223))
    checks.append(("hard negatives: no python eval",
                   "BatchEvalPython" not in p223))

    # 224. late events: narrow map into ONE (type, bucket)-bounded
    # aggregate, type-bounded share broadcast, no window
    p224 = plan_of(entry.q_rel_late_events(spark, SF))
    sections.append(("Watermark lateness (rel_late_events)", p224))
    checks.append(("late events: no window at all",
                   "Window" not in p224))
    checks.append(("late events: type-total broadcast",
                   "BroadcastHashJoin" in p224))
    checks.append(("late events: map-side partial aggregation",
                   "partial_" in p224))
    checks.append(("late events: no python eval",
                   "BatchEvalPython" not in p224))

    # 225. corr pairs: raw event rows never join — the pairing is a
    # self equi-join ON DAY of the bounded daily table
    p225 = plan_of(entry.q_rel_corr_pairs(spark, SF))
    sections.append(("Daily-count correlation (rel_corr_pairs)", p225))
    checks.append(("corr pairs: no nested-loop/cartesian join",
                   "CartesianProduct" not in p225
                   and "BroadcastNestedLoopJoin" not in p225))
    checks.append(("corr pairs: map-side partial aggregation",
                   "partial_" in p225))
    checks.append(("corr pairs: no python eval",
                   "BatchEvalPython" not in p225))

    # 226. value deciles: the scale-safe ntile — no global sort of the
    # user table; the only unpartitioned windows run over the bounded
    # value histogram / 10-row decile table
    p226 = plan_of(entry.q_rel_value_deciles(spark, SF))
    sections.append(("Exact value deciles (rel_value_deciles)", p226))
    checks.append(("value deciles: value-partitioned rank window present",
                   "windowspecdefinition(v" in p226))
    checks.append(("value deciles: map-side partial aggregation",
                   "partial_" in p226))
    checks.append(("value deciles: no python eval",
                   "BatchEvalPython" not in p226))

    # 227. heaps growth: nothing corpus-sized is sorted — the cumulative
    # window runs over the generated <=64-row checkpoint spine
    p227 = plan_of(entry.q_txt_heaps_growth(spark, SF))
    sections.append(("Heaps-law growth (txt_heaps_growth)", p227))
    checks.append(("heaps: no nested-loop/cartesian join",
                   "CartesianProduct" not in p227))
    checks.append(("heaps: map-side partial aggregation",
                   "partial_" in p227))
    checks.append(("heaps: no python eval",
                   "BatchEvalPython" not in p227))

    # 228. canonical conflicts: rides the doubled pointer table, anti-join
    # terminals, ONE canonical-keyed aggregate
    p228 = plan_of(entry.q_txt_canonical_conflicts(spark, SF))
    sections.append(
        ("Canonical-group conflicts (txt_canonical_conflicts)", p228))
    checks.append(("canonical conflicts: no cartesian",
                   "CartesianProduct" not in p228))
    checks.append(("canonical conflicts: pointer table persisted",
                   "InMemoryTableScan" in p228))
    checks.append(("canonical conflicts: map-side partial aggregation",
                   "partial_" in p228))

    # 229. interarrival: (user, type) lag + type-partitioned rank windows
    # on the native sharding — never a global window
    p229 = plan_of(entry.q_rel_interarrival(spark, SF))
    sections.append(("Inter-arrival cadence (rel_interarrival)", p229))
    checks.append(("interarrival: partitioned windows only (never global)",
                   "windowspecdefinition()" not in p229))
    checks.append(("interarrival: map-side partial aggregation",
                   "partial_" in p229))
    checks.append(("interarrival: no python eval",
                   "BatchEvalPython" not in p229))

    # 230. token entropy: two map-side-combining aggregates, no join,
    # no window, no python
    p230 = plan_of(entry.q_txt_token_entropy(spark, SF))
    sections.append(("Token entropy (txt_token_entropy)", p230))
    checks.append(("entropy: no join at all", "Join" not in p230))
    checks.append(("entropy: no window at all", "Window" not in p230))
    checks.append(("entropy: map-side partial aggregation",
                   "partial_" in p230))
    checks.append(("entropy: no python eval",
                   "BatchEvalPython" not in p230))

    # 231. weekday profile: narrow map into a (type x 7)-bounded
    # aggregate, type total broadcast
    p231 = plan_of(entry.q_rel_weekday_profile(spark, SF))
    sections.append(("Weekday profile (rel_weekday_profile)", p231))
    checks.append(("weekday: no window at all", "Window" not in p231))
    checks.append(("weekday: type-total broadcast",
                   "BroadcastHashJoin" in p231))
    checks.append(("weekday: map-side partial aggregation",
                   "partial_" in p231))

    # 232. bow-tie: the CORE pick's 1-row broadcast happens inside the
    # checkpointed core/fwd/back subplans (not visible here) — the final
    # plan must be exactly the three flag LEFT equi-joins over
    # checkpoint-backed node sets, nothing nested-loop/cartesian
    p232 = plan_of(entry.q_kg_bowtie(spark, SF))
    sections.append(("Bow-tie decomposition (kg_bowtie)", p232))
    checks.append(("bowtie: classification is left equi-joins",
                   "LeftOuter" in p232))
    checks.append(("bowtie: BFS rounds checkpoint-backed",
                   "Scan ExistingRDD" in p232))
    checks.append(("bowtie: no cartesian product",
                   "Cartesian" not in p232
                   and "BroadcastNestedLoopJoin" not in p232))

    # 233. RPQ p/q*: predicate picks ride in as broadcasts; the closure
    # rounds are checkpoint-backed; the final composition is an equi-join
    # + partial min aggregate
    p233 = plan_of(entry.q_kg_rpq(spark, SF))
    sections.append(("RPQ p/q* (kg_rpq)", p233))
    checks.append(("rpq: predicate filters broadcast",
                   "BroadcastHashJoin" in p233))
    checks.append(("rpq: closure rounds checkpoint-backed",
                   "Scan ExistingRDD" in p233))
    checks.append(("rpq: map-side partial min", "partial_min" in p233))
    checks.append(("rpq: no cartesian product", "Cartesian" not in p233))

    # 234. G2 collocations: bigrams expression-side (no positional
    # self-join), marginals joined back per side, the 1-row total a
    # broadcast nested-loop of exactly one row (crossJoin of a 1-row agg)
    p234 = plan_of(entry.q_txt_collocation_llr(spark, SF))
    sections.append(("Dunning G2 collocations (txt_collocation_llr)", p234))
    checks.append(("llr: no window", "Window" not in p234))
    checks.append(("llr: map-side partial aggregation", "partial_" in p234))
    checks.append(("llr: pair table persisted once",
                   p234.count("InMemoryTableScan") >= 2))
    checks.append(("llr: no Python in the plan",
                   "BatchEvalPython" not in p234))

    # 235. Zipf slope: one explode into a vocab aggregate, ONE global
    # window over the vocabulary (the documented acceptable sort), one
    # 1-row aggregate — and nothing else
    p235 = plan_of(entry.q_txt_zipf_slope(spark, SF))
    sections.append(("Zipf rank-frequency OLS (txt_zipf_slope)", p235))
    # round-6 shape: the vocabulary rank/cumsum is the two-level
    # prefix sum — per-token windows PARTITIONED by tf class, plus the
    # class-offset join; the only single-partition window runs over the
    # distinct-tf class histogram (whitelisted, O(sqrt tokens) rows)
    checks.append(("zipf: per-token windows partitioned by tf class "
                   "(two-level prefix sum)",
                   p235.count("windowspecdefinition(tf#") >= 2))
    checks.append(("zipf: single-partition windows only over the bounded "
                   "distinct-tf class table",
                   len(re.findall(
                       r"windowspecdefinition\(\S+ (?:ASC|DESC)", p235
                   )) <= 1))
    checks.append(("zipf: map-side partial aggregation", "partial_" in p235))

    # 236. burstiness: two stacked aggregates, no join, no window
    p236 = plan_of(entry.q_txt_burstiness(spark, SF))
    sections.append(("Term burstiness (txt_burstiness)", p236))
    checks.append(("burstiness: no join", "Join" not in p236))
    checks.append(("burstiness: no window", "Window" not in p236))
    checks.append(("burstiness: map-side partial aggregation",
                   "partial_" in p236))

    # 237. calendar gap-fill: ONE event-sized aggregate; the calendar is
    # the exploded bounded per-type range; zero-fill via a left join; no
    # window, no cartesian
    p237 = plan_of(entry.q_rel_gap_fill(spark, SF))
    sections.append(("Calendar gap-fill (rel_gap_fill)", p237))
    checks.append(("gapfill: zero-fill is a left join", "LeftOuter" in p237))
    checks.append(("gapfill: calendar explode present", "Explode" in p237
                   or "Generate" in p237))
    checks.append(("gapfill: no window", "Window" not in p237))
    checks.append(("gapfill: no cartesian product", "Cartesian" not in p237
                   and "BroadcastNestedLoopJoin" not in p237))

    # 238. hopping windows: expression-side explode into two stacked
    # aggregates — NO join, NO window, NO distinct shuffle of raw events
    p238 = plan_of(entry.q_rel_hopping_window(spark, SF))
    sections.append(("Hopping window counts (rel_hopping_window)", p238))
    checks.append(("hopping: no join at all", "Join" not in p238))
    checks.append(("hopping: no window function", "Window" not in p238))
    checks.append(("hopping: covering-starts explode present",
                   "Explode" in p238 or "Generate" in p238))
    checks.append(("hopping: map-side partial aggregation",
                   "partial_" in p238))

    # 239. SimRank-2: adjacency and s1 pair table each persisted once
    # (InMemory scans), every join an equi-join, no corpus broadcast of
    # a data-sized side (bounded dims only), no cartesian
    p239 = plan_of(entry.q_kg_simrank(spark, SF))
    sections.append(("SimRank two-iteration (kg_simrank)", p239))
    checks.append(("simrank: persisted adjacency + s1 reused",
                   p239.count("InMemoryTableScan") >= 3))
    checks.append(("simrank: no cartesian product", "Cartesian" not in p239
                   and "BroadcastNestedLoopJoin" not in p239))
    checks.append(("simrank: map-side partial aggregation",
                   "partial_" in p239))

    # 240. sequence patterns: the raw stream shuffles ONCE into the
    # (user, type) sufficient-statistics aggregate (map-side partial);
    # the persisted stats table feeds both join sides (InMemory scans);
    # per-type counts + one-row total arrive by broadcast; no window
    p240 = plan_of(entry.q_rel_sequence_patterns(spark, SF))
    sections.append(("Sequential patterns (rel_sequence_patterns)", p240))
    checks.append(("seqpat: stats table persisted + reused",
                   p240.count("InMemoryTableScan") >= 2))
    checks.append(("seqpat: dims arrive by broadcast",
                   "BroadcastHashJoin" in p240 or "BroadcastExchange" in p240))
    checks.append(("seqpat: map-side partial aggregation", "partial_" in p240))
    checks.append(("seqpat: no window function", "Window" not in p240))

    # 241. temporal paths: collapsed edge table persisted once and
    # reused (degrees + both wedge sides); the wedge is an EQUI-join on
    # the middle id with the time predicate as a filter — never a range/
    # nested-loop plan; no cartesian
    p241 = plan_of(entry.q_kg_temporal_paths(spark, SF))
    sections.append(("Time-respecting 2-hop (kg_temporal_paths)", p241))
    checks.append(("temporal: edge table persisted + reused",
                   p241.count("InMemoryTableScan") >= 3))
    checks.append(("temporal: no cartesian / nested-loop range join",
                   "Cartesian" not in p241
                   and "BroadcastNestedLoopJoin" not in p241))
    checks.append(("temporal: map-side partial aggregation",
                   "partial_" in p241))

    # 242. shard ring: both assignments are EXPRESSION-side successor
    # lookups (no join to learn a shard — the only joins are the final
    # bounded matrix's broadcast total); no window; map-side partials
    p242 = plan_of(entry.q_txt_shard_ring(spark, SF))
    sections.append(("Consistent-hash resharding (txt_shard_ring)", p242))
    checks.append(("shardring: no sort-merge/shuffle join (assignment is "
                   "expression-side)", "SortMergeJoin" not in p242))
    checks.append(("shardring: one-row total arrives by broadcast",
                   "BroadcastExchange" in p242))
    checks.append(("shardring: map-side partial aggregation",
                   "partial_" in p242))
    checks.append(("shardring: no window function", "Window" not in p242))

    # 243. k-anonymity: the raw stream shuffles ONCE into the level-1
    # (QI, user) aggregate; NO count-distinct Expand; no join, no window
    p243 = plan_of(entry.q_rel_k_anonymity(spark, SF))
    sections.append(("k-anonymity audit (rel_k_anonymity)", p243))
    checks.append(("kanon: no count-distinct Expand", "Expand" not in p243))
    checks.append(("kanon: no join at all", "Join" not in p243))
    checks.append(("kanon: map-side partial aggregation",
                   "partial_" in p243))
    checks.append(("kanon: no window function", "Window" not in p243))

    # 244. NN-Descent round: vector table + init graph each persisted
    # once and reused (InMemory scans); every pairing is an equi-join
    # (bucket / center / vec_id) — no cartesian, no corpus broadcast;
    # windows only per-bucket / per-node
    p244 = plan_of(entry.q_ann_nndescent(spark, SF))
    sections.append(("NN-Descent round (ann_nndescent)", p244))
    checks.append(("nndescent: persisted vectors + init reused",
                   p244.count("InMemoryTableScan") >= 3))
    checks.append(("nndescent: no cartesian product", "Cartesian" not in p244
                   and "BroadcastNestedLoopJoin" not in p244))
    checks.append(("nndescent: map-side partial aggregation",
                   "partial_" in p244))

    # 245. audio match: fingerprints are ONE Arrow-batched mapInPandas
    # stage (no per-row python UDF); the fingerprint stream + the capped
    # index are each persisted once; the bucket self-join is equi on
    # fp_hash; no cartesian
    p245 = plan_of(entry.q_mm_audio_match(spark, SF))
    sections.append(("Audio constellation match (mm_audio_match)", p245))
    checks.append(("audiomatch: Arrow-batched fingerprint stage",
                   "MapInPandas" in p245))
    checks.append(("audiomatch: no row-at-a-time python UDF",
                   "BatchEvalPython" not in p245))
    checks.append(("audiomatch: fingerprints + capped index persisted",
                   p245.count("InMemoryTableScan") >= 2))
    checks.append(("audiomatch: no cartesian product",
                   "Cartesian" not in p245
                   and "BroadcastNestedLoopJoin" not in p245))

    # 246. host boilerplate: two-level aggregate (no count-distinct
    # Expand); the per-host dim arrives by broadcast; map-side partials
    p246 = plan_of(entry.q_txt_boilerplate(spark, SF))
    sections.append(("Host boilerplate audit (txt_boilerplate)", p246))
    checks.append(("boilerplate: no count-distinct Expand",
                   "Expand" not in p246))
    checks.append(("boilerplate: host dim arrives by broadcast",
                   "BroadcastHashJoin" in p246))
    checks.append(("boilerplate: map-side partial aggregation",
                   "partial_" in p246))
    checks.append(("boilerplate: no window function", "Window" not in p246))

    # 247. geo near-pairs: the pairing is an EQUI-join on the probe cell
    # (a BETWEEN-on-cells formulation would go nested-loop — the plan
    # this operator exists to avoid); celled points persisted once and
    # feeding both sides; no window
    p247 = plan_of(entry.q_er_geo_pairs(spark, SF))
    sections.append(("Grid-cell geo blocking (er_geo_pairs)", p247))
    checks.append(("geo: no cartesian / nested-loop range join",
                   "Cartesian" not in p247
                   and "BroadcastNestedLoopJoin" not in p247))
    checks.append(("geo: celled points persisted + reused",
                   p247.count("InMemoryTableScan") >= 2))
    checks.append(("geo: probe explode present",
                   "Explode" in p247 or "Generate" in p247))
    checks.append(("geo: no window function", "Window" not in p247))

    # 248. conjunct facts: pure narrow extraction — one regexp scan +
    # bounded posexplode; no join, no aggregate, no window, no exchange
    p248 = plan_of(entry.q_kg_conjunct_facts(spark, SF))
    sections.append(("Coordination expansion (kg_conjunct_facts)", p248))
    checks.append(("conjunct: no join at all", "Join" not in p248))
    checks.append(("conjunct: no shuffle exchange",
                   "Exchange hashpartitioning" not in p248))
    checks.append(("conjunct: conjunct explode present",
                   "Explode" in p248 or "Generate" in p248))
    checks.append(("conjunct: no window function", "Window" not in p248))

    # 249. rate anomaly: ONE event-sized aggregate (map-side partials);
    # the window runs on the bounded (type, day) table; no join
    p249 = plan_of(entry.q_rel_rate_anomaly(spark, SF))
    sections.append(("Trailing rate anomaly (rel_rate_anomaly)", p249))
    checks.append(("rateanom: no join at all", "Join" not in p249))
    checks.append(("rateanom: map-side partial aggregation",
                   "partial_" in p249))
    checks.append(("rateanom: window present on the bounded daily table",
                   "Window" in p249))

    # 250. FD audit: the corpus collapses ONCE into the persisted combo
    # table; every per-pair branch re-reads it from cache (InMemory
    # scans, one per ordered pair x2 aggregates); no join, no window
    p250 = plan_of(entry.q_rel_fd_audit(spark, SF))
    sections.append(("FD discovery audit (rel_fd_audit)", p250))
    checks.append(("fdaudit: combo table persisted + reused by all pairs",
                   p250.count("InMemoryTableScan") >= 12))
    checks.append(("fdaudit: no join at all", "Join" not in p250))
    checks.append(("fdaudit: map-side partial aggregation",
                   "partial_" in p250))
    checks.append(("fdaudit: no window function", "Window" not in p250))

    # 251. join estimate: two key aggregates with map-side partials into
    # one bounded key-table equi-join; the estimate is a flag inside ONE
    # final aggregate — no second pass, no window
    p251 = plan_of(entry.q_rel_join_estimate(spark, SF))
    sections.append(("Join cardinality estimate (rel_join_estimate)", p251))
    checks.append(("joinest: map-side partial aggregation",
                   "partial_" in p251))
    checks.append(("joinest: no cartesian product",
                   "Cartesian" not in p251
                   and "BroadcastNestedLoopJoin" not in p251))
    checks.append(("joinest: no window function", "Window" not in p251))

    # 252. B-cubed: the contingency-cell table is persisted once and
    # feeds sizes + both numerators; the one-row combines arrive by
    # broadcast; no cartesian of data-sized sides; no window
    p252 = plan_of(entry.q_er_bcubed(spark, SF))
    sections.append(("B-cubed dedup evaluation (er_bcubed)", p252))
    checks.append(("bcubed: cells persisted + reused",
                   p252.count("InMemoryTableScan") >= 2))
    checks.append(("bcubed: map-side partial aggregation",
                   "partial_" in p252))
    checks.append(("bcubed: one-row combines by broadcast",
                   "BroadcastExchange" in p252))

    # 253. source jaccard: the distinct token table + the k-sketch are
    # each persisted once and reused (vocab stats, pairwise arms, exact
    # join); per-source dims broadcast; windows only per source / per
    # pair; two-level distinct (no Expand)
    p253 = plan_of(entry.q_txt_source_jaccard(spark, SF))
    sections.append(("KMV source overlap (txt_source_jaccard)", p253))
    checks.append(("srcjac: token table + sketch persisted and reused",
                   p253.count("InMemoryTableScan") >= 4))
    checks.append(("srcjac: no count-distinct Expand", "Expand" not in p253))
    checks.append(("srcjac: dims arrive by broadcast",
                   "BroadcastHashJoin" in p253))
    checks.append(("srcjac: map-side partial aggregation",
                   "partial_" in p253))

    # 254. SHACL cardinality: two-level distinct (no Expand), shapes
    # literal arrives by broadcast; no window
    p254 = plan_of(entry.q_kg_shacl_card(spark, SF))
    sections.append(("SHACL cardinality validation (kg_shacl_card)", p254))
    checks.append(("shacl: no count-distinct Expand", "Expand" not in p254))
    checks.append(("shacl: shapes literal by broadcast",
                   "BroadcastHashJoin" in p254))
    checks.append(("shacl: map-side partial aggregation",
                   "partial_" in p254))
    checks.append(("shacl: no window function", "Window" not in p254))

    # 255. decay score: one-row max-day broadcast, ONE event-sized
    # aggregate with map-side partials; no window, no sort
    p255 = plan_of(entry.q_rel_decay_score(spark, SF))
    sections.append(("Time-decay engagement score (rel_decay_score)", p255))
    checks.append(("decay: max-day arrives by broadcast",
                   "BroadcastExchange" in p255))
    checks.append(("decay: map-side partial aggregation",
                   "partial_" in p255))
    checks.append(("decay: no window function", "Window" not in p255))
    checks.append(("decay: no global sort", "Sort " not in p255
                   or "TakeOrdered" in p255))

    # 256. attribution: ONE window pass (no join), 2-element explode,
    # bounded aggregate with map-side partials
    p256 = plan_of(entry.q_rel_attribution(spark, SF))
    sections.append(("Touch attribution (rel_attribution)", p256))
    checks.append(("attrib: no join anywhere", "Join" not in p256))
    checks.append(("attrib: single window pass",
                   p256.count("Window (") == 1))
    checks.append(("attrib: explode stays narrow", "Generate" in p256))
    checks.append(("attrib: map-side partial aggregation",
                   "partial_" in p256))

    # 257. debounce: no join; the two event-sized windows share the
    # (user_id, event_type)-keyed exchange; map-side partials into the
    # island aggregate
    p257 = plan_of(entry.q_rel_debounce(spark, SF))
    sections.append(("Burst-collapse debounce (rel_debounce)", p257))
    checks.append(("debounce: no join anywhere", "Join" not in p257))
    checks.append(("debounce: windows share the key exchange",
                   p257.count("Exchange") <= 3))
    checks.append(("debounce: map-side partial aggregation",
                   "partial_" in p257))

    # 258. louvain move: labels/degrees persisted and reused across the
    # three consumers; the one-row m arrives by broadcast; no cartesian
    # product; map-side partials on the edge-sized k_ic aggregate
    p258 = plan_of(entry.q_kg_louvain_move(spark, SF))
    sections.append(("Louvain move phase (kg_louvain_move)", p258))
    checks.append(("louvain: labels+degrees persisted and reused",
                   p258.count("InMemoryTableScan") >= 4))
    checks.append(("louvain: one-row m by broadcast",
                   "BroadcastNestedLoopJoin" in p258
                   or "BroadcastExchange" in p258))
    checks.append(("louvain: no cartesian product",
                   "CartesianProduct" not in p258))
    checks.append(("louvain: map-side partial aggregation",
                   "partial_" in p258))

    # 259. blocking quality: banded table + candidate table each
    # persisted once and reused; truth intersection is a semi-join;
    # one-row combines by broadcast
    p259 = plan_of(entry.q_er_blocking_quality(spark, SF))
    sections.append(("Blocking scorecard (er_blocking_quality)", p259))
    checks.append(("blockq: banded+candidate tables persisted and reused",
                   p259.count("InMemoryTableScan") >= 3))
    checks.append(("blockq: truth intersection is a semi-join",
                   "LeftSemi" in p259))
    checks.append(("blockq: one-row combines by broadcast",
                   "BroadcastNestedLoopJoin" in p259))

    # 260. temporal conflicts: the interval table is persisted once and
    # feeds both self-join sides; no cartesian product; map-side partials
    p260 = plan_of(entry.q_kg_temporal_conflicts(spark, SF))
    sections.append(("Temporal conflicts (kg_temporal_conflicts)", p260))
    checks.append(("tconf: interval table persisted and reused",
                   p260.count("InMemoryTableScan") >= 2))
    checks.append(("tconf: no cartesian product",
                   "CartesianProduct" not in p260))
    checks.append(("tconf: map-side partial aggregation",
                   "partial_" in p260))

    # 261. histogram: column-pruned scan, one-row range by broadcast,
    # event-sized aggregate map-side combines
    p261 = plan_of(entry.q_rel_histogram(spark, SF))
    sections.append(("Equi-width histogram (rel_histogram)", p261))
    checks.append(("hist: column-pruned scan",
                   "ReadSchema: struct<event_type:string,value:double>"
                   in p261))
    checks.append(("hist: one-row range by broadcast",
                   "BroadcastNestedLoopJoin" in p261))
    checks.append(("hist: map-side partial aggregation",
                   "partial_" in p261))

    # 262. Q18: pre-aggregation BEFORE the join (partial agg present),
    # customer dim broadcast, top-100 is a TakeOrdered — never a global
    # sort
    p262 = plan_of(entry.q_rel_q18_bigcust(spark, SF))
    sections.append(("TPC-H Q18 big customers (rel_q18_bigcust)", p262))
    checks.append(("q18: map-side partial aggregation", "partial_" in p262))
    checks.append(("q18: customer dim broadcast",
                   "BroadcastHashJoin" in p262))
    checks.append(("q18: top-k is TakeOrdered, no global sort",
                   "TakeOrderedAndProject" in p262))

    # 263. beam search: vectors + init graph + adjacency persisted and
    # reused; bounded query table broadcast; no cartesian product
    p263 = plan_of(entry.q_ann_beam_search(spark, SF))
    sections.append(("Graph beam search (ann_beam_search)", p263))
    checks.append(("beam: persisted tables reused",
                   p263.count("InMemoryTableScan") >= 4))
    checks.append(("beam: query table arrives by broadcast",
                   "BroadcastHashJoin" in p263))
    checks.append(("beam: no cartesian product",
                   "CartesianProduct" not in p263))

    # 264. span corruption: column-pruned scan, ONE noisy-position
    # window, map-side partials into the per-doc aggregate
    p264 = plan_of(entry.q_txt_span_corruption(spark, SF))
    sections.append(("T5 span corruption (txt_span_corruption)", p264))
    checks.append(("spancorr: column-pruned scan",
                   "ReadSchema: struct<doc_id:bigint,text:string>" in p264))
    checks.append(("spancorr: single window pass",
                   p264.count("Window (") == 1))
    checks.append(("spancorr: map-side partial aggregation",
                   "partial_" in p264))

    # 265. FS patterns: bounded pattern aggregate with partials, no
    # count-distinct Expand
    p265 = plan_of(entry.q_er_fs_patterns(spark, SF))
    sections.append(("FS pattern regions (er_fs_patterns)", p265))
    checks.append(("fspat: map-side partial aggregation",
                   "partial_" in p265))
    checks.append(("fspat: no count-distinct Expand", "Expand" not in p265))

    # 266. caption groups: Arrow-batched pHash stage, cascaded two-level
    # distincts (no Expand), map-side partials
    p266 = plan_of(entry.q_mm_caption_groups(spark, SF))
    sections.append(("Caption groups (mm_caption_groups)", p266))
    checks.append(("capgrp: vectorized Python stage",
                   "MapInPandas" in p266))
    checks.append(("capgrp: no count-distinct Expand",
                   "Expand" not in p266))
    checks.append(("capgrp: map-side partial aggregation",
                   "partial_" in p266))

    # 267. curriculum: bounded offsets arrive by broadcast; the ONLY
    # single-partition exchange is the bounded (stage x bucket) window
    p267 = plan_of(entry.q_txt_curriculum(spark, SF))
    sections.append(("Curriculum order (txt_curriculum)", p267))
    checks.append(("curric: offsets by broadcast",
                   "BroadcastHashJoin" in p267))
    checks.append(("curric: one bounded single-partition window",
                   p267.count("Exchange SinglePartition") <= 1))
    checks.append(("curric: map-side partial aggregation",
                   "partial_" in p267))

    # 268. Q4 shape: the late-key set is DISTINCT-aggregated before the
    # census; map-side partials; no window
    p268 = plan_of(entry.q_rel_q4_priority(spark, SF))
    sections.append(("TPC-H Q4 priority census (rel_q4_priority)", p268))
    checks.append(("q4: map-side partial aggregation", "partial_" in p268))
    checks.append(("q4: no window function", "Window" not in p268))
    checks.append(("q4: column-pruned lineitem scan",
                   "struct<l_orderkey:bigint,l_shipdate:timestamp" in p268))

    # 269. streaks: no join; the two windows share the user-keyed
    # exchange; map-side partials on the distinct-day aggregate
    p269 = plan_of(entry.q_rel_streaks(spark, SF))
    sections.append(("Activity streaks (rel_streaks)", p269))
    checks.append(("streaks: no join anywhere", "Join" not in p269))
    checks.append(("streaks: map-side partial aggregation",
                   "partial_" in p269))

    # 270. chain audit: membership persisted once and reused by both
    # consumers; no cartesian product
    p270 = plan_of(entry.q_er_chain_audit(spark, SF))
    sections.append(("Dedup chain audit (er_chain_audit)", p270))
    checks.append(("chain: membership persisted and reused",
                   p270.count("InMemoryTableScan") >= 2))
    checks.append(("chain: no cartesian product",
                   "CartesianProduct" not in p270))
    checks.append(("chain: map-side partial aggregation",
                   "partial_" in p270))

    # 271. filtered ANN: the predicate joins BEFORE scoring (label
    # equi-join, broadcast query side), per-query window only
    p271 = plan_of(entry.q_ann_filtered_topk(spark, SF))
    sections.append(("Filtered vector search (ann_filtered_topk)", p271))
    checks.append(("fann: query side arrives by broadcast",
                   "BroadcastHashJoin" in p271))
    checks.append(("fann: no cartesian product",
                   "CartesianProduct" not in p271))
    checks.append(("fann: map-side partial aggregation",
                   "partial_" in p271))

    # 272. meta-blocking: banded table + weighted pair table each
    # persisted once and reused; map-side partials; no cartesian
    p272 = plan_of(entry.q_er_meta_blocking(spark, SF))
    sections.append(("Meta-blocking WNP (er_meta_blocking)", p272))
    checks.append(("metab: banded+weighted tables persisted and reused",
                   p272.count("InMemoryTableScan") >= 4))
    checks.append(("metab: no cartesian product",
                   "CartesianProduct" not in p272))
    checks.append(("metab: map-side partial aggregation",
                   "partial_" in p272))

    # 273. WoW change: one event-sized aggregate, lag over the bounded
    # weekly table, no join
    p273 = plan_of(entry.q_rel_wow_change(spark, SF))
    sections.append(("Week-over-week change (rel_wow_change)", p273))
    checks.append(("wow: no join anywhere", "Join" not in p273))
    checks.append(("wow: map-side partial aggregation",
                   "partial_" in p273))
    checks.append(("wow: column-pruned scan",
                   "ReadSchema: struct<ts:timestamp" in p273))

    # 274. survivorship: membership joins stats on the doc key, ONE
    # struct-min aggregate; no window beyond the clusters chain's own
    p274 = plan_of(entry.q_dedup_survivorship(spark, SF))
    sections.append(("Dedup survivorship (dedup_survivorship)", p274))
    checks.append(("surv: map-side partial aggregation",
                   "partial_" in p274))
    checks.append(("surv: no cartesian product",
                   "CartesianProduct" not in p274))

    # 275. isa polarity: two vocabulary-sized collapses before the full
    # outer join (no corpus-sized join side), map-side partials
    p275 = plan_of(entry.q_kg_isa_polarity(spark, SF))
    sections.append(("Polarity is-a mining (kg_isa_polarity)", p275))
    checks.append(("polarity: map-side partial aggregation",
                   "partial_" in p275))
    checks.append(("polarity: no cartesian product",
                   "CartesianProduct" not in p275))

    # 276. property coverage: two cascaded two-level distincts (no
    # count-distinct Expand), bounded type join
    p276 = plan_of(entry.q_kg_property_coverage(spark, SF))
    sections.append(("Property coverage (kg_property_coverage)", p276))
    checks.append(("propcov: no count-distinct Expand",
                   "Expand" not in p276))
    checks.append(("propcov: map-side partial aggregation",
                   "partial_" in p276))

    # 277. salted join: the dim side explodes x n_salt, the join is the
    # hinted sort-merge on the composite (key, salt)
    p277 = plan_of(entry.q_rel_salted_join(spark, SF))
    sections.append(("Salted skew join (rel_salted_join)", p277))
    checks.append(("salted: dim side explodes per salt",
                   "Generate" in p277 and "explode(" in p277))
    checks.append(("salted: composite-key sort-merge join",
                   "SortMergeJoin" in p277))
    checks.append(("salted: no cartesian product",
                   "CartesianProduct" not in p277))

    # 278. IFP merge: the (pred, obj) aggregate persisted once and
    # reused by profile + suggestions; map-side partials
    p278 = plan_of(entry.q_kg_ifp_merge(spark, SF))
    sections.append(("IFP identity merge (kg_ifp_merge)", p278))
    checks.append(("ifp: per-object aggregate persisted and reused",
                   p278.count("InMemoryTableScan") >= 2))
    checks.append(("ifp: map-side partial aggregation",
                   "partial_" in p278))
    checks.append(("ifp: no cartesian product",
                   "CartesianProduct" not in p278))

    # 279. Benford: one event-sized aggregate, bounded windows, no join,
    # no log anywhere (pure integer ladder)
    p279 = plan_of(entry.q_rel_benford(spark, SF))
    sections.append(("Benford audit (rel_benford)", p279))
    checks.append(("benford: no join anywhere", "Join" not in p279))
    checks.append(("benford: map-side partial aggregation",
                   "partial_" in p279))
    checks.append(("benford: no log evaluated",
                   "LOG(" not in p279.upper()))

    # 280. MMR: candidate + similarity tables persisted once and reused
    # across the greedy rounds; query side broadcast; no cartesian
    # beyond the broadcast query cross join
    p280 = plan_of(entry.q_ann_mmr_rerank(spark, SF))
    sections.append(("MMR re-rank (ann_mmr_rerank)", p280))
    checks.append(("mmr: candidates+sims persisted and reused",
                   p280.count("InMemoryTableScan") >= 4))
    checks.append(("mmr: query side by broadcast",
                   "BroadcastNestedLoopJoin" in p280
                   or "BroadcastHashJoin" in p280))
    checks.append(("mmr: map-side partial aggregation",
                   "partial_" in p280))

    # 281. LSH curve: ONE signature table persisted and re-banded per
    # config (shingling never re-runs); scorecard combines by broadcast
    p281 = plan_of(entry.q_dedup_lsh_curve(spark, SF))
    sections.append(("LSH operating curve (dedup_lsh_curve)", p281))
    checks.append(("lshcurve: signatures persisted and reused",
                   p281.count("InMemoryTableScan") >= 6))
    checks.append(("lshcurve: one-row combines by broadcast",
                   "BroadcastNestedLoopJoin" in p281))
    checks.append(("lshcurve: map-side partial aggregation",
                   "partial_" in p281))

    # 282. FS EM round: binarized pairs persisted once (pattern E-step +
    # M-step), 16-row region table broadcast back
    p282 = plan_of(entry.q_er_fs_em_round(spark, SF))
    sections.append(("FS EM re-estimation (er_fs_em_round)", p282))
    checks.append(("emround: binarized pairs persisted and reused",
                   p282.count("InMemoryTableScan") >= 2))
    checks.append(("emround: region table broadcast back",
                   "BroadcastHashJoin" in p282))
    checks.append(("emround: map-side partial aggregation",
                   "partial_" in p282))

    # 283. instruction density: pure narrow scan — no shuffle at all
    p283 = plan_of(entry.q_txt_instruction_density(spark, SF))
    sections.append(("Instruction density (txt_instruction_density)", p283))
    checks.append(("instr: zero exchange (narrow scan)",
                   "Exchange" not in p283))
    checks.append(("instr: column-pruned scan",
                   "ReadSchema: struct<doc_id:bigint,text:string>" in p283))

    # 284. entity sentiment: one explode + ONE vocabulary aggregate with
    # map-side partials; no join
    p284 = plan_of(entry.q_kg_entity_sentiment(spark, SF))
    sections.append(("Entity sentiment (kg_entity_sentiment)", p284))
    checks.append(("esent: no join anywhere", "Join" not in p284))
    checks.append(("esent: map-side partial aggregation",
                   "partial_" in p284))

    # 285. BLANKET (VERDICT r05 item 3): no gated query may plan a Window
    # fed by an Exchange SinglePartition UNLESS its input is a provably
    # bounded table (whitelist below, each entry carrying the bound). The
    # detection walks every queries() plan: Window -> Sort/AQE nodes ->
    # Exchange, and checks the exchange's Arguments for SinglePartition
    # (scripts/scan_global_windows.py, runnable standalone).
    sys.path.insert(0, str(REPO / "scripts"))
    from scan_global_windows import global_window_hits  # noqa: E402

    from unsupervised_ner_spark.caching import cache_scope  # noqa: E402

    # query -> why its single-partition window input is bounded (NOT
    # data-sized): every entry names the bounded table and its envelope.
    GLOBAL_WINDOW_WHITELIST = {
        "txt_budget_select": "score-band totals, <= scale/band = 100 rows",
        "er_sorted_neighborhood": "first-character band totals, <= alphabet",
        "kg_triple_dataset": "md5-prefix vocab-bucket totals, 256 rows",
        "kg_negative_samples": "md5-prefix vocab-bucket totals, 256 rows",
        "rel_skyline": "per-x min-y candidates, <= distinct order days",
        "txt_filter_funnel": "|rules|+1-row funnel table",
        "kg_graph_stats": "degree-class histogram, O(sqrt E) rows",
        "kg_richclub": "degree-threshold curve, O(sqrt E) rows",
        "rel_value_deciles": "range-partition totals, <= shuffle partitions",
        "txt_curriculum": "(stage x md5-bucket) totals, 4*256 rows",
        "txt_zipf_slope": "distinct-tf class histogram, O(sqrt tokens)",
        "txt_vocab_coverage": "distinct-tf class histogram, O(sqrt tokens)",
        "kg_tagger_agreement": "|tagset|^2 confusion matrix",
        "rel_snapshot_expiry": "catalog snapshot metadata, table-bounded",
        "txt_pack_sequences": "token-bucket totals, bounded bucket count",
        "txt_pack_manifest": "token-bucket totals, bounded bucket count",
        "txt_pack_stats": "token-bucket totals, bounded bucket count",
    }
    blanket_offenders = []
    for qname, qfn in entry.queries().items():
        try:
            with cache_scope():
                qp = plan_of(qfn(spark, SF))
        except Exception as e:  # noqa: BLE001 - diagnostic surface
            blanket_offenders.append(f"{qname} (PLAN ERROR {e})")
            continue
        if global_window_hits(qp) and qname not in GLOBAL_WINDOW_WHITELIST:
            blanket_offenders.append(qname)
    checks.append((
        "BLANKET: no un-whitelisted single-partition Window in any of "
        f"{len(entry.queries())} gated queries "
        f"(whitelist={len(GLOBAL_WINDOW_WHITELIST)}, all bounded-table)",
        not blanket_offenders,
    ))
    if blanket_offenders:
        print("blanket offenders:", blanket_offenders)

    failed = [name for name, ok in checks if not ok]
    lines = ["# PLANS — physical-plan evidence for the scale posture", ""]
    lines.append("Checked properties (scripts/capture_plans.py):")
    for name, ok in checks:
        lines.append(f"- [{'x' if ok else ' '}] {name}")
    lines.append("")
    for title, plan in sections:
        lines.append(f"## {title}\n\n```\n{plan.strip()}\n```\n")
    (REPO / "PLANS.md").write_text("\n".join(lines))
    print("wrote PLANS.md;", "ALL CHECKS PASS" if not failed else f"FAILED: {failed}")
    spark.stop()
    raise SystemExit(1 if failed else 0)


if __name__ == "__main__":
    main()
