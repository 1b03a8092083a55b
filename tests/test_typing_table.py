"""Per-descriptor-term typing table: cached entries, the numpy-free rounding
and the context-sensitive (no ``cache_key``) tagger path must reproduce the
uncached per-mention typing float for float."""

import numpy as np
import pytest
from hypothesis import given
from hypothesis import strategies as st

from unsupervised_ner_spark import dims
from unsupervised_ner_spark.descriptors import FixtureDescriptorProvider
from unsupervised_ner_spark.kernel import typing as T
from unsupervised_ner_spark.kernel.oracle import OracleTagger
from unsupervised_ner_spark.pipeline.synth import sentence_pool

EMAP = {
    "DISEASE": "DISEASE", "DRUG": "THERAPEUTIC_OR_PREVENTIVE_PROCEDURE",
    "PERSON": "PERSON", "NUMBER": "MEASURE", "MISC": "OTHER",
    "OTHER": "OTHER", "UNTAGGED_ENTITY": "UNTAGGED_ENTITY",
}
LABELS = sorted(EMAP)
# signature vocabulary keys are lower-case; "gone" and "void" are misses
VOCAB = ["fever", "aspirin", "smith", "two", "junk", "gone", "void"]

signature = st.lists(
    st.tuples(st.sampled_from(LABELS), st.integers(0, 30)), min_size=1, max_size=4,
).map(lambda pairs: (tuple(l for l, _ in pairs), tuple(c for _, c in pairs)))
signatures = st.fixed_dictionaries({
    "fever": signature, "aspirin": signature, "smith": signature, "two": signature,
    # every label suppressed when suppress_untagged is on
    "junk": st.just((("OTHER", "UNTAGGED_ENTITY"), (3, 4))),
})
# mixed-case and repeated terms; scores may be negative like MLM logits
term = st.tuples(st.sampled_from(VOCAB), st.booleans()).map(
    lambda tc: tc[0].capitalize() if tc[1] else tc[0])
descs = st.lists(
    st.tuples(term, st.floats(-20.0, 20.0, allow_nan=False)), min_size=1, max_size=10,
)


def _np_normalize_round(values):
    """The numpy formulation normalize_round must reproduce bit for bit."""
    factors = [float(v) for v in values]
    total = float(sum(factors))
    if total == 0:
        total = 1
        factors[0] = 1
    return [float(v) for v in np.round(np.array(factors) / total, 4)]


def _loop_reference(descs, sigs, emap, suppress, version):
    """The single-loop formulation the per-term split replaced: per
    descriptor, map and filter its labels, weight them and accumulate."""
    agg, subtypes = {}, {}
    for (_, score), (labels, counts) in zip(descs, sigs):
        kept = [(l, c) for l, c in zip(labels, counts) if not T.skip_untagged(l, suppress)]
        for label, count in kept:
            sub = subtypes.setdefault(emap[label], {})
            sub[label] = sub.get(label, 0) + (int(count) if version == "v2" else 1)
        if version == "v2":
            if not kept:
                continue
            soft = T.softmax(np.array([c for _, c in kept], dtype=np.float64))
            for j, (label, _) in enumerate(kept):
                if not T.skip_untagged(emap[label], suppress):
                    g = emap[label]
                    agg[g] = agg.get(g, 0.0) + float(soft[j]) * float(score)
        else:
            total = sum(int(c) for c in counts) or 1
            for j, (label, _) in enumerate(kept):
                g = emap[label]
                agg[g] = agg.get(g, 0.0) + (float(counts[j]) / total) * float(score)
    ordered = sorted(agg.items(), key=lambda kv: (-kv[1], kv[0]))
    if not ordered:
        ordered = [("OTHER", 1.0)]
        subtypes["OTHER"] = {"OTHER": 1}
    decorated = [
        g + "[" + ",".join(s for s, _ in sorted(subtypes[g].items(), key=lambda kv: (-kv[1], kv[0]))) + "]"
        if g in subtypes else g
        for g, _ in ordered
    ]
    return decorated, _np_normalize_round([v for _, v in ordered]), subtypes


def _tagger(sigs, suppress, version, table=None):
    return OracleTagger(None, EMAP, sigs, suppress_untagged=suppress,
                        typing_version=version, term_table=table)


@given(signatures, descs, st.lists(descs, max_size=3), st.booleans(),
       st.sampled_from(["v1", "v2"]))
def test_warm_table_equals_cold_aggregate(sigs, side, warm_sides, suppress, version):
    tagger = _tagger(sigs, suppress, version)
    for w in warm_sides:
        tagger._type_side(w)
    warm = tagger._type_side(side)
    fn = T.aggregate_entities if version == "v2" else T.aggregate_entities_v1
    sigs_cold = [tagger._signature(d) for d, _ in side]
    cold = fn(side, sigs_cold, EMAP, suppress)
    assert warm == cold == _loop_reference(side, sigs_cold, EMAP, suppress, version)
    # a second tagger sharing the now-warm table agrees as well
    assert _tagger(sigs, suppress, version, tagger._terms)._type_side(side) == cold


def test_table_is_keyed_by_lower_cased_term():
    tagger = _tagger({"fever": (("DISEASE",), (5,))}, True, "v2")
    tagger._type_side([("Fever", 1.0), ("FEVER", 2.0), ("fever", 3.0), ("Gone", 1.0)])
    assert set(tagger._terms) == {"fever", "gone"}


def _bits(xs):
    return [x.hex() for x in xs]


def test_normalize_round_matches_numpy_on_half_way_grid():
    # f / total = k / 20000 hits every half-way point of the 4dp grid
    for k in range(-20000, 40001):
        v = [float(k), float(20000 - k)]
        assert _bits(T.normalize_round(v)) == _bits(_np_normalize_round(v)), k


def test_normalize_round_zero_total():
    for v in ([0.0, 0.0], [0.0, 0.0, 0.0], [1.0, -1.0], [-2.5, 2.5, 0.0], [0.0]):
        got = T.normalize_round(v)
        assert _bits(got) == _bits(_np_normalize_round(v)), v
    assert T.normalize_round([0.0, 0.0]) == [1.0, 0.0]
    assert T.normalize_round([]) == []


def test_round4_special_values_match_numpy():
    xs = [float("inf"), float("-inf"), float("nan"), 1e305, -1e305,
          5e-324, -5e-324, 0.0, -0.0, -0.00005, 0.00005, -0.00015]
    with np.errstate(over="ignore"):  # 1e305 * 1e4 overflows to inf
        want = [float(v) for v in np.round(np.array(xs), 4)]
    assert _bits([T._round4(x) for x in xs]) == _bits(want)


@given(st.lists(st.floats(-1e6, 1e6, allow_nan=False), min_size=1, max_size=12))
def test_normalize_round_matches_numpy(values):
    assert _bits(T.normalize_round(values)) == _bits(_np_normalize_round(values))


class _ContextProvider:
    """Same descriptors, but no ``cache_key``: the memo never engages, as
    with a context-sensitive masked-LM provider."""

    def __init__(self, inner):
        self._inner = inner

    def descriptors(self, surface, side, context=None):
        return self._inner.descriptors(surface, side, context=context)


@pytest.mark.parametrize("version", ["v2", "v1"])
def test_context_sensitive_tagger_equals_memoized(version):
    base = FixtureDescriptorProvider.load("a100")
    emap, sigs = dims.load_entity_map(), dims.load_signatures("a100")
    memo = OracleTagger(base, emap, sigs, typing_version=version)
    ctx = OracleTagger(_ContextProvider(base), emap, sigs, typing_version=version)
    n_mentions = 0
    for _ in range(2):  # second pass: memo hits vs warm term-table entries
        for sent in sentence_pool():
            a, b = memo.tag_sentence(sent), ctx.tag_sentence(sent)
            assert (a.text, a.words, a.span_arr, a.tags) == (b.text, b.words, b.span_arr, b.tags)
            assert len(a.mentions) == len(b.mentions)
            for ma, mb in zip(a.mentions, b.mentions):
                assert vars(ma) == vars(mb)
            n_mentions += len(a.mentions)
    assert n_mentions > 0
    assert memo._memo and not ctx._memo


def test_worker_taggers_share_one_term_table_per_key():
    from unsupervised_ner_spark.pipeline import tagging

    table = tagging._worker_term_table("a100", True, "v2")
    assert table is tagging._worker_term_table("a100", True, "v2")
    assert table is not tagging._worker_term_table("a100", False, "v2")
    assert table is not tagging._worker_term_table("a100", True, "v1")
    assert tagging._worker_tagger("a100", True, frozenset())._terms is table
