"""The benchmark's three workloads over the package's production KG chain.

Each workload prepares its inputs from the seed, runs the chain once per
timed repetition, checks each repetition's outputs, and can run one traced
pass in which every layer's input is materialized first and its public call
is timed together with an action on its output.

- ``ingest_memo``: seeded ``synth_pages`` -> ``run_pipeline`` -> triples.
  Few distinct sentences, so the typing memo hits on nearly every mention.
- ``ingest_context``: the same pages and chain, with a descriptor provider
  that declares no memo key (``providers.context_provider``), so every
  mention is typed from scratch.
- ``kg_build``: a seeded long-tail corpus (``corpus.py``) through the
  ``scripts/submit_kg_job.py`` sequence: per-page checkpoint stages, then
  corpus-global entity resolution and canonicalization into parquet.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from kgbench import corpus
from kgbench.providers import CountingProvider, context_provider
from unsupervised_ner_spark import dims
from unsupervised_ner_spark.caching import cache_scope, scoped_persist
from unsupervised_ner_spark.descriptors import FIXTURES_DIR, FixtureDescriptorProvider
from unsupervised_ner_spark.kernel import spans
from unsupervised_ner_spark.kernel.oracle import OracleTagger
from unsupervised_ner_spark.pipeline import checkpoint as ckpt
from unsupervised_ner_spark.pipeline import er
from unsupervised_ner_spark.pipeline.runner import run_pipeline, typed_mentions_from_tagged
from unsupervised_ner_spark.pipeline.synth import synth_pages
from unsupervised_ner_spark.pipeline.tagging import tag_sentences
from unsupervised_ner_spark.pipeline.triples import tagged_to_triples

MODEL = "a100"
# synth_pages picks sentence j of page p as pool[(31 p + 17 j + seed) mod
# 124], and a page's language and html/text side also cycle with p. Seeds
# that differ by a multiple of 62 draw nearly the same sentence mix for the
# English pages (histograms within 2 %), shifted across pages, so ingest
# runs pass 62 x seed: every seed gives other pages but comparable work.
SYNTH_SEED_STRIDE = 62
ORACLE_SAMPLE = 300
KERNEL_SAMPLE = 1000

def checksum(df, cols: list[str] | None = None) -> tuple[int, int, int, int]:
    """(rows, xor of row hashes, sum of row hashes mod 2^31, string bytes):
    order-independent, and overflow-free under ANSI mode."""
    cols = cols or df.columns
    h = F.xxhash64(*cols)
    strings = [c for c, t in df.select(*cols).dtypes if t == "string"]
    nbytes = sum((F.coalesce(F.octet_length(c), F.lit(0)) for c in strings), F.lit(0))
    row = df.agg(
        F.count("*"),
        F.coalesce(F.bit_xor(h), F.lit(0)),
        F.coalesce(F.sum(F.pmod(h, F.lit(1 << 31))), F.lit(0)),
        F.coalesce(F.sum(nbytes.cast("long")), F.lit(0)),
    ).first()
    return tuple(int(v) for v in row)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, leaving out the local file system's
    .crc side files."""
    total = files = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".crc"):
                continue
            total += os.path.getsize(os.path.join(base, n))
            files += 1
    return total, files


class Workload:
    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.input_props: dict = {}
        self.reference = None  # outputs of the first pass
        self.traced_outputs = None  # outputs of the traced pass

    # --- hooks ---------------------------------------------------------
    def prepare(self) -> None: ...
    def run_once(self, rep: int): ...
    def outputs(self, result) -> dict: ...
    def output_bytes(self, result) -> int: ...

    def release(self, result) -> None:
        pass

    def sentences(self): ...
    def checks(self, reps: int) -> list[tuple[str, bool, str]]: ...
    def traced(self, tr) -> dict: ...

    def warm_up_pass(self, i: int):
        return self.run_once(f"warmup_{i}")

    def rep_checks(self, result) -> list[tuple[str, bool, str]]:
        return []

    def tag_kwargs(self) -> dict:
        return {}

    # --- shared --------------------------------------------------------
    def sample(self, n: int, salt: int) -> list[tuple]:
        """Seeded sample of the workload's sentences: (url, sent_idx, sent)."""
        key = F.xxhash64("url", "sent_idx", F.lit(self.seed), F.lit(salt))
        return [tuple(r) for r in
                self.sentences().orderBy(key).limit(n).select("url", "sent_idx", "sent").collect()]

    @staticmethod
    def oracle_tagger(provider) -> OracleTagger:
        return OracleTagger(provider, dims.load_entity_map(), dims.load_signatures(MODEL),
                            punct_terminate=False)

    def check_oracle(self) -> tuple[bool, str]:
        """Spark-tagged sample sentences equal ``OracleTagger`` tags token
        for token."""
        rows = self.sample(ORACLE_SAMPLE, salt=1)
        df = self.spark.createDataFrame(rows, "url string, sent_idx int, sent string")
        tagged = tag_sentences(df, model=MODEL, detail=False, **self.tag_kwargs())
        got = {(r.url, r.sent_idx): (list(r.words), list(r.tags))
               for r in tagged.select("url", "sent_idx", "words", "tags").collect()}
        tagger = self.oracle_tagger(FixtureDescriptorProvider.load(MODEL))
        bad = 0
        for url, idx, sent in rows:
            want = tagger.tag_sentence(sent)
            if got.get((url, idx)) != (want.words, want.tags):
                bad += 1
        return bad == 0 and len(got) == len(rows), f"{bad} of {len(rows)} sentences differ"

    def kernel_metrics(self, tagging_self_s: float, sentences_out: int, cores: int) -> dict:
        """Direct ``OracleTagger.tag_sentence`` calls on a seeded sample,
        after one untimed pass over the same sample (as the Spark workers
        are warm from the warm-up pass)."""
        base = (context_provider(MODEL) if self.tag_kwargs()
                else FixtureDescriptorProvider.load(MODEL))
        sents = [s for _, _, s in self.sample(KERNEL_SAMPLE, salt=2)]
        tagger = self.oracle_tagger(base)
        for s in sents:
            tagger.tag_sentence(s)
        counting = CountingProvider(base)
        tagger.provider = counting
        t0 = time.perf_counter()
        mentions = sum(len(tagger.tag_sentence(s).mentions) for s in sents)
        kernel_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for s in sents:
            spans.detect_mentions(spans.parse_tokens(s))
        spans_s = time.perf_counter() - t0
        per_sentence = kernel_s / len(sents)
        return {
            "kernel.sentences_per_s": len(sents) / kernel_s,
            "kernel.spans_us_per_sentence": spans_s / len(sents) * 1e6,
            "kernel.typing_us_per_mention": max(kernel_s - spans_s, 0.0) / max(mentions, 1) * 1e6,
            "kernel.memo_hit_ratio": (mentions - counting.ci_fetches) / max(mentions, 1),
            "tagging.udf_overhead_ratio":
                tagging_self_s * cores / (per_sentence * max(sentences_out, 1)),
        }


class Ingest(Workload):
    """``run_pipeline`` to triples over cached ``synth_pages``; the timed
    sink is one checksum aggregate over every triple column."""

    def __init__(self, spark, seed, work, pages: int, context: bool):
        super().__init__(spark, seed, work)
        self.pages = pages
        self.context = context
        self.df = None

    def tag_kwargs(self) -> dict:
        return {"provider_factory": context_provider} if self.context else {}

    def prepare(self) -> None:
        if self.df is not None:
            self.df.unpersist(blocking=True)
        self.df = synth_pages(
            self.spark, self.pages, seed=SYNTH_SEED_STRIDE * self.seed).persist()
        row = self.df.agg(
            F.count("*").alias("pages"),
            F.sum(F.coalesce(F.octet_length("html"), F.octet_length("text"))).alias("b"),
            F.sum((F.col("lang") == "en").cast("int")).alias("en"),
        ).first()
        self.input_props = {"pages": row.pages, "input_bytes": int(row.b), "pages_en": row.en}

    def sentences(self):
        return run_pipeline(self.df, model=MODEL)["sentences"]

    def run_once(self, rep: int):
        stages = run_pipeline(self.df, model=MODEL, **self.tag_kwargs())
        return checksum(stages["triples"])

    def outputs(self, result) -> dict:
        return {"triples": result}

    def output_bytes(self, result) -> int:
        return result[3]

    def warm_up_pass(self, i: int):
        """``ingest_context`` makes its first warm-up pass with the memoized
        provider; that pass's triples are what ``context_equals_memo``
        compares with."""
        if self.context and i == 0:
            self.memo_triples = checksum(run_pipeline(self.df, model=MODEL)["triples"])
            return None
        return self.run_once(f"warmup_{i}")

    def checks(self, reps: int) -> list[tuple[str, bool, str]]:
        out = [("oracle_sample", *self.check_oracle())]
        if self.context:
            ctx = self.reference["triples"]
            out.append(("context_equals_memo", self.memo_triples == ctx,
                        f"memo {self.memo_triples} vs context {ctx}"))
        return out

    def traced(self, tr) -> dict:
        with cache_scope(), tr.span("pipeline"):
            with tr.span("text"):
                sents = scoped_persist(run_pipeline(self.df, model=MODEL)["sentences"])
                n_sent = sents.count()
            with tr.span("tagging"):
                tagged = scoped_persist(tag_sentences(
                    sents, model=MODEL, detail=False, **self.tag_kwargs()))
                n_mentions = tagged.agg(F.sum(F.size("mentions"))).first()[0]
            with tr.span("triples"):
                triples = checksum(tagged_to_triples(tagged))
        self.traced_outputs = self.outputs(triples)
        return {"text.sentences_out": n_sent, "tagging.mentions_out": n_mentions,
                "triples.rows_out": triples[0]}


class KgBuild(Workload):
    """The ``scripts/submit_kg_job.py`` sequence into a fresh root per
    repetition, over a seeded long-tail pages parquet."""

    def __init__(self, spark, seed, work, pages: int):
        super().__init__(spark, seed, work)
        self.pages = pages
        self.input = os.path.join(work, "input", "pages.parquet")
        self.kept = None  # root of the last repetition, for checks()

    def prepare(self) -> None:
        fixture = str(FIXTURES_DIR / f"descriptor_fixture_{MODEL}.parquet")
        cols, stats = corpus.long_tail_pages(self.pages, self.seed, corpus.head_vocabulary(fixture))
        shutil.rmtree(self.input, ignore_errors=True)
        corpus.write_pages_parquet(cols, self.input)
        self.input_props = {
            "pages": stats.pages, "sentences": stats.sentences,
            "input_bytes": stats.input_bytes, "distinct_head_terms": stats.distinct_heads,
            "entity_slots": stats.slots, "variant_share": round(stats.variant_share, 4),
        }

    def sentences(self):
        pages = self.spark.read.parquet(self.input)
        return run_pipeline(pages, model=MODEL)["sentences"]

    def _root(self, rep) -> str:
        return os.path.join(self.work, "kg", f"run_{rep}")

    def run_once(self, rep):
        spark, root = self.spark, self._root(rep)
        pages = spark.read.parquet(self.input)
        with cache_scope():
            stages = run_pipeline(pages, lang_filter="en", model=MODEL)
            tagged = scoped_persist(stages["tagged"])
            typed = typed_mentions_from_tagged(tagged)
            ckpt.write_stage(ckpt.resume_filter(typed, root, "typed_mentions"), root, "typed_mentions")
            ckpt.write_stage(ckpt.resume_filter(stages["triples"], root, "page_triples"),
                             root, "page_triples")
        with cache_scope():
            entities, canon = self._resolved(root)
            entities.write.mode("overwrite").parquet(f"{root}/entities")
            canon.write.mode("overwrite").parquet(f"{root}/canonical_triples")
        return root

    def _resolved(self, root: str):
        """The corpus-global half over ``root``'s checkpoints: ``stage_read``,
        entity resolution and canonicalization. Call inside a cache scope."""
        spark = self.spark
        typed_all = ckpt.stage_read(spark, root, "typed_mentions")
        triples_all = scoped_persist(ckpt.stage_read(spark, root, "page_triples"))
        occ = er.entity_occurrences(
            typed_all.select("url", "sent_idx", "mention_idx", "surface", "pred_group"))
        entities, membership = er.resolve_entities(occ)
        return entities, er.canonicalize_triples(triples_all, membership)

    def outputs(self, root) -> dict:
        read = self.spark.read.parquet
        return {"entities": checksum(read(f"{root}/entities")),
                "canonical_triples": checksum(read(f"{root}/canonical_triples"))}

    def output_bytes(self, root) -> int:
        return dir_bytes(root)[0]

    def rep_checks(self, root) -> list[tuple[str, bool, str]]:
        """Lineage row counts match the committed rows; every canonical
        endpoint is an entity."""
        spark = self.spark
        lineage = {r.stage: r.n for r in ckpt.stage_metrics(spark, root)
                   .groupBy("stage").agg(F.sum("row_count").alias("n")).collect()}
        read = {s: ckpt.stage_read(spark, root, s).count()
                for s in ("typed_mentions", "page_triples")}
        ents = spark.read.parquet(f"{root}/entities").select("entity_id")
        canon = spark.read.parquet(f"{root}/canonical_triples")
        ids = canon.select(F.col("subj_id").alias("entity_id")).union(
            canon.select(F.col("obj_id").alias("entity_id")))
        dangling = ids.join(ents, "entity_id", "left_anti").count()
        return [
            ("lineage_counts", lineage == read, f"lineage {lineage} vs stage_read {read}"),
            ("canonical_ids_in_entities", dangling == 0, f"{dangling} dangling ids"),
        ]

    def release(self, root) -> None:
        if self.kept:
            shutil.rmtree(self.kept, ignore_errors=True)
        self.kept = root

    def checks(self, reps: int) -> list[tuple[str, bool, str]]:
        """With a single repetition, nothing has been compared with its
        outputs yet: resolve its checkpoints a second time and compare."""
        out = [("oracle_sample", *self.check_oracle())]
        if reps < 2 and self.kept:
            with cache_scope():
                entities, canon = self._resolved(self.kept)
                got = {"entities": checksum(entities), "canonical_triples": checksum(canon)}
            out.append(("resolve_deterministic", got == self.reference,
                        f"{got} vs {self.reference}"))
        return out

    def traced(self, tr) -> dict:
        spark, root = self.spark, self._root("traced")
        counts: dict = {}
        originals = (er.exact_canonical, er.fuzzy_edges, er.connected_components_star)

        # resolve_entities looks its stages up as module globals at call
        # time; these benchmark-side wrappers time each stage's call plus an
        # action that materializes its output
        def exact(occ):
            with tr.span("er.exact"):
                nodes = scoped_persist(originals[0](occ))
                counts["er.exact.nodes_out"] = nodes.count()
            return nodes

        def fuzzy(nodes, *a, **kw):
            with tr.span("er.fuzzy"):
                edges = scoped_persist(originals[1](nodes, *a, **kw))
                counts["er.fuzzy.edges_out"] = edges.count()
            return edges

        def star(nodes, edges, *a, **kw):
            with tr.span("er.cc"):
                labels, rounds = originals[2](nodes, edges, *a, **kw)
                labels = scoped_persist(labels)
                labels.count()
            counts["er.cc.rounds"] = rounds
            return labels, rounds

        with cache_scope(), tr.span("kg"):
            pages = spark.read.parquet(self.input)
            with tr.span("text"):
                sents = scoped_persist(
                    run_pipeline(pages, lang_filter="en", model=MODEL)["sentences"])
                counts["text.sentences_out"] = sents.count()
            with tr.span("tagging"):
                tagged = scoped_persist(tag_sentences(sents, model=MODEL, detail=False))
                tagged.count()
                typed = scoped_persist(typed_mentions_from_tagged(tagged))
                counts["tagging.mentions_out"] = typed.count()
            with tr.span("triples"):
                triples = scoped_persist(tagged_to_triples(tagged))
                counts["triples.rows_out"] = triples.count()
            with tr.span("checkpoint.write"):
                ckpt.write_stage(ckpt.resume_filter(typed, root, "typed_mentions"),
                                 root, "typed_mentions")
                ckpt.write_stage(ckpt.resume_filter(triples, root, "page_triples"),
                                 root, "page_triples")
            counts["checkpoint.bytes_written"], counts["checkpoint.files_written"] = dir_bytes(root)
            with tr.span("checkpoint.read"):
                typed_all = scoped_persist(ckpt.stage_read(spark, root, "typed_mentions"))
                typed_all.count()
                triples_all = scoped_persist(ckpt.stage_read(spark, root, "page_triples"))
                triples_all.count()
            er.exact_canonical, er.fuzzy_edges, er.connected_components_star = exact, fuzzy, star
            try:
                with tr.span("er"):
                    occ = er.entity_occurrences(typed_all.select(
                        "url", "sent_idx", "mention_idx", "surface", "pred_group"))
                    entities, membership = er.resolve_entities(occ)
                    entities = scoped_persist(entities)
                    counts["er.entities_out"] = entities.count()
                    membership = scoped_persist(membership)
                    membership.count()
            finally:
                er.exact_canonical, er.fuzzy_edges, er.connected_components_star = originals
            with tr.span("canon"):
                canon = er.canonicalize_triples(triples_all, membership)
                entities.write.mode("overwrite").parquet(f"{root}/entities")
                canon.write.mode("overwrite").parquet(f"{root}/canonical_triples")
        self.traced_outputs = self.outputs(root)
        counts["canon.rows_out"] = self.traced_outputs["canonical_triples"][0]
        shutil.rmtree(root, ignore_errors=True)
        n_nodes = counts["er.exact.nodes_out"]
        counts["er.fuzzy.edges_per_node"] = counts["er.fuzzy.edges_out"] / max(n_nodes, 1)
        counts["er.merge_ratio"] = n_nodes / max(counts["er.entities_out"], 1)
        return counts


def make(name: str, spark, seed: int, work: str, pages: int) -> Workload:
    if name == "kg_build":
        return KgBuild(spark, seed, work, pages)
    return Ingest(spark, seed, work, pages, context=(name == "ingest_context"))
