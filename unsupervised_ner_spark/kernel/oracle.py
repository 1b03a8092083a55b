"""Single-process end-to-end parity oracle (v2 batched semantics).

Runs one sentence through the full reference dataflow — span detection, CS
mask + CI probe, descriptor fetch, signature join, typing aggregation, CI+CS
pooling, top-1 selection, BIO emission — entirely in Python. This is the
golden oracle the distributed Spark pipeline must match token-for-token
(query lifecycle traced in SURVEY.md §3.1; reference entrypoint
``tag_sentence`` batched_main_NER.py:258-325).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from unsupervised_ner_spark.kernel import spans as S
from unsupervised_ner_spark.kernel import typing as T
from unsupervised_ner_spark.kernel.bio import emit_bio
from unsupervised_ner_spark.kernel.constants import END_TOKENS, UNTAGGED_LABEL


def add_term_punct(sent: str) -> str:
    """End sentences with ' . ' when not already punctuated
    (add_term_punct, ensemble/aggregate_server_json.py:39-46)."""
    if len(sent) > 1 and sent[-1] not in END_TOKENS:
        return sent + " . "
    return sent


@dataclass
class MentionResult:
    begin_tok: int
    end_tok: int
    surface: str
    masked_sentence: str
    ci_probe: str
    ci_entities: list[str] = field(default_factory=list)
    ci_confidences: list[float] = field(default_factory=list)
    cs_entities: list[str] = field(default_factory=list)
    cs_confidences: list[float] = field(default_factory=list)
    pooled: list = field(default_factory=list)
    prediction: str = "OTHER"
    # packed per-side distributions (pack_confidences,
    # batched_main_NER.py:396-413) — the orig_cs/orig_ci_prediction_details
    # payloads the ensemble consumes
    cs_dist: list = field(default_factory=list)
    ci_dist: list = field(default_factory=list)
    # raw descriptor term lists (cs/ci_prediction_details "descs" payload)
    cs_descs: list = field(default_factory=list)
    ci_descs: list = field(default_factory=list)


@dataclass
class SentenceResult:
    text: str
    words: list[str]
    span_arr: list[int]
    mentions: list[MentionResult]
    tags: list[str]


class OracleTagger:
    def __init__(
        self,
        provider,
        entity_map: dict[str, str],
        signatures: dict[str, tuple[tuple[str, ...], tuple[int, ...]]],
        common_descs: frozenset[str] = frozenset(),
        suppress_untagged: bool = True,
        punct_terminate: bool = True,
        typing_version: str = "v2",
        term_table: dict | None = None,
    ):
        """``typing_version``: "v2" (batched semantics — softmax-weighted,
        the parity oracle) or "v1" (per-mention main_NER semantics —
        count-fraction weighting + subtype occurrence counting; see
        kernel/typing.py:aggregate_entities_v1).

        ``term_table``: the per-descriptor-term typing table to fill and
        read. Taggers built on the same signatures and entity map with the
        same ``suppress_untagged`` and ``typing_version`` may share one."""
        self.provider = provider
        self.entity_map = entity_map
        self.signatures = signatures
        self.common_descs = common_descs
        self.suppress_untagged = suppress_untagged
        self.punct_terminate = punct_terminate
        self._entry = T.DESCRIPTOR_ENTRY[typing_version]
        # lower-cased descriptor term -> typing entry (typing.py module
        # docstring); bounded by the descriptor vocabulary and valid for
        # every provider, so context-sensitive ones benefit too
        self._terms: dict = {} if term_table is None else term_table
        # typing-result memo: valid only when the provider declares its
        # descriptors a pure function of the surface (cache_key != None);
        # a hit skips the descriptor fetch, typing and pooling of a mention
        self._memo: dict = {}

    def _signature(self, desc: str):
        """J1 descriptor-term -> signature; misses are UNTAGGED with count 1
        (contract at batched_main_NER.py:704-709)."""
        sig = self.signatures.get(desc.lower())
        if sig is None:
            return ([UNTAGGED_LABEL], [1])
        return (list(sig[0]), list(sig[1]))

    def _type_side(self, descs):
        terms = self._terms
        entries = []
        for desc, _ in descs:
            entry = terms.get(desc.lower())
            if entry is None:
                entry = terms[desc.lower()] = self._entry(
                    *self._signature(desc), self.entity_map, self.suppress_untagged
                )
            entries.append(entry)
        return T.aggregate_entries(entries, [float(score) for _, score in descs])

    def tag_sentence(self, text: str) -> SentenceResult:
        sent = add_term_punct(text) if self.punct_terminate else text
        tokens = S.parse_tokens(sent)
        words = [t.word for t in tokens]
        mentions_raw = S.detect_mentions(tokens)
        mentions_kept = S.filter_common_spans(tokens, mentions_raw, self.common_descs)
        # rebuilt bitmap reflects the common-span filter zeroing
        # (filter_common_noun_spans, ensemble/utils/common.py:82-113)
        span_arr = [0] * len(tokens)
        for m in mentions_kept:
            for i in range(m.begin_tok, m.end_tok + 1):
                span_arr[i] = 1
        blank = S.is_blank_probe(sent)
        results: list[MentionResult] = []
        predictions: list[str] = []
        cache_key_fn = getattr(self.provider, "cache_key", lambda s, context=None: None)
        for m in mentions_kept:
            mr = MentionResult(
                begin_tok=m.begin_tok,
                end_tok=m.end_tok,
                surface=m.surface,
                masked_sentence=S.masked_sentence(tokens, m),
                ci_probe=S.ci_probe(m.surface),
            )
            ck = cache_key_fn(m.surface, context=mr.masked_sentence)
            memo_key = (ck, blank) if ck is not None else None
            hit = self._memo.get(memo_key) if memo_key is not None else None
            if hit is not None:
                (mr.ci_entities, mr.ci_confidences, mr.cs_entities,
                 mr.cs_confidences, mr.pooled, mr.prediction,
                 mr.cs_dist, mr.ci_dist, mr.cs_descs, mr.ci_descs) = hit
            else:
                ci_descs = self.provider.descriptors(
                    m.surface, "ci", context=mr.ci_probe
                )
                cs_descs = self.provider.descriptors(
                    m.surface, "cs", context=mr.masked_sentence
                )
                mr.ci_entities, mr.ci_confidences, ci_subtypes = self._type_side(ci_descs)
                if cs_descs:
                    mr.cs_entities, mr.cs_confidences, cs_subtypes = self._type_side(cs_descs)
                else:  # find_cs_entities empty-descs branch (batched_main_NER.py:436-441)
                    cs_subtypes = {}
                mr.pooled = T.pool_confidences(
                    mr.ci_entities, mr.ci_confidences, ci_subtypes,
                    mr.cs_entities, mr.cs_confidences, cs_subtypes,
                    blank_probe=blank,
                )
                mr.prediction = T.top_prediction(mr.pooled)
                mr.cs_dist = T.pack_confidences(mr.cs_entities, mr.cs_confidences)
                mr.ci_dist = T.pack_confidences(mr.ci_entities, mr.ci_confidences)
                mr.cs_descs = [d for d, _ in cs_descs]
                mr.ci_descs = [d for d, _ in ci_descs]
                if memo_key is not None:
                    self._memo[memo_key] = (
                        mr.ci_entities, mr.ci_confidences, mr.cs_entities,
                        mr.cs_confidences, mr.pooled, mr.prediction,
                        mr.cs_dist, mr.ci_dist, mr.cs_descs, mr.ci_descs,
                    )
            results.append(mr)
            predictions.append(mr.prediction)
        tags = emit_bio(span_arr, predictions)
        return SentenceResult(sent, words, span_arr, results, tags)
