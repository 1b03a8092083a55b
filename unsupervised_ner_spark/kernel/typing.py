"""Entity-typing math kernel (v2 "batched" semantics, plus v1).

From-scratch re-expression of the reference's typing math; every step cites
the behavior it replicates in ``/root/reference/batched_main_NER.py``:

- ``softmax``                      :27-30   (max-subtracted, axis=0)
- ``descriptor_entry``             :602-632,:686-702 (one descriptor's
                                             consolidated subtype counts and
                                             softmax of its label counts)
- ``aggregate_entries``            :632-678 (score-weighted sum per group,
                                             sort_subtypes :660-665,
                                             update_entities_with_subtypes
                                             :667-678 "GROUP[sub1,...]")
- ``aggregate_entities``           :602-657 (the composition of the two)
- ``convert_positive_nums_to_dist``:579-590 (normalize, np.round 4dp,
                                             zero-sum -> first factor 1)
- ``skip_untagged``                :680-683
- ``pool_confidences``             :165-233 (CI+CS pooling incl. blank-probe
                                             CI skip :158-173)
- ``fill_detected_entities``       :457-467 (argmax type + top subtype)

Per-term / per-mention split: everything ``descriptor_entry`` (and its v1
counterpart ``descriptor_entry_v1``) computes depends only on the
descriptor TERM's signature, the entity map and ``suppress_untagged`` —
not on the mention or the MLM score. ``OracleTagger`` therefore keeps one
entry per lower-cased descriptor term in a table (the key its signature
lookup uses) and runs only ``aggregate_entries`` per mention. The table is
bounded by the descriptor vocabulary: the a100 fixture emits 14,961
distinct terms (its 14,951 signature terms plus the OOV and numeric
stand-ins); a BERT wordpiece vocabulary has about 30k.
``aggregate_entities`` and ``aggregate_entities_v1`` are exactly
entry-then-aggregate, so cached and uncached typing are one implementation
with bit-identical floats.

Deliberately preserved quirks:
- the dead ``curr_counts_sum`` variable (:622-623) is NOT replicated — only
  the live accumulation path (:628-632) is.
- normalization rounds like numpy (banker's rounding), same as the
  reference; ``_round4`` is np.round(x, 4) bit for bit without the array.

Deliberate DIVERGENCE (documented): the reference breaks sort ties by dict
insertion order (Python's ``sorted`` is stable, :636,:663). Insertion order
is not expressible as a deterministic cross-engine sort key, and subtype
ties on small summed integer counts are realistic — so EVERY ordering here
uses the tie-break the SQL twins use: (score DESC, label ASC). Scores are
exp-weighted sums, so group-level ties are measure-zero; the observable
difference from the reference is confined to exact-tie subtype ordering.
"""

from __future__ import annotations

import numpy as np

from unsupervised_ner_spark.kernel.constants import (
    OTHER_LABEL,
    UNTAGGED_LABEL,
)

# type aliases
Descs = list[tuple[str, float]]            # [(desc_term, mlm_score), ...] rank order
Signature = tuple[list[str], list[int]]    # (labels, cluster_counts), parallel
Dist = list[tuple[str, float]]             # [(entity, confidence), ...] sorted desc
# per-term typing entry: ((group, label, count) subtype increments,
#                         (group, weight) pairs), see descriptor_entry
Entry = tuple[tuple[tuple[str, str, int], ...], tuple[tuple[str, float], ...]]


def softmax(x: np.ndarray) -> np.ndarray:
    """Max-subtracted softmax (batched_main_NER.py:27-30)."""
    e_x = np.exp(x - np.max(x))
    return e_x / e_x.sum(axis=0)


def _round4(x: float) -> float:
    """``np.round(x, 4)`` on one float: numpy computes rint(x * 1e4) / 1e4,
    and Python's ``round`` is the same half-to-even rint. A zero result
    keeps the sign of ``x``, and inf/nan pass through, as with rint."""
    y = x * 10000.0
    try:
        r = round(y)
    except (OverflowError, ValueError):
        return y / 10000.0
    return r / 10000.0 if r else x * 0.0


def normalize_round(values: list[float]) -> list[float]:
    """convert_positive_nums_to_dist (batched_main_NER.py:579-590): divide by
    total (zero total -> first factor forced to 1), numpy round to 4dp.

    Empty input returns [] — the reference would raise IndexError here
    (:585 factors[0] on an empty list); unreachable in its flow (CI side is
    never empty) and guarded in ours for robustness."""
    if not values:
        return []
    factors = [float(v) for v in values]
    total = float(sum(factors))
    if total == 0:
        total = 1.0
        factors[0] = 1.0
    return [_round4(f / total) for f in factors]


def skip_untagged(label: str, suppress_untagged: bool) -> bool:
    """batched_main_NER.py:680-683."""
    return suppress_untagged and label in (OTHER_LABEL, UNTAGGED_LABEL)


def descriptor_entry(
    labels, counts, entity_map: dict[str, str], suppress_untagged: bool = True,
) -> Entry:
    """Per-term part of v2 typing for one descriptor's signature.

    map_entities (:686-702): skip suppressed labels, map the rest to their
    group; each kept label adds its RAW count to its group's subtypes. The
    kept counts are softmaxed (:602-632) and every kept group that is not
    itself suppressed gets its softmax weight. Empty when every label is
    suppressed."""
    subs = tuple(
        (entity_map[label], label, int(count))
        for label, count in zip(labels, counts)
        if not skip_untagged(label, suppress_untagged)
    )
    if not subs:
        return (), ()
    soft = softmax(np.array([c for _, _, c in subs], dtype=np.float64))
    weights = tuple(
        (group, float(w))
        for (group, _, _), w in zip(subs, soft)
        if not skip_untagged(group, suppress_untagged)
    )
    return subs, weights


def descriptor_entry_v1(
    labels, counts, entity_map: dict[str, str], suppress_untagged: bool = True,
) -> Entry:
    """Per-term part of v1 (per-mention, main_NER.py) typing:

    - COUNT-FRACTION weighting (main_NER.py:541-572): kept label j weighs
      count[j] / sum(ALL counts) — the denominator includes SUPPRESSED
      labels' counts (:558 sums curr_counts before filtering);
    - PRESERVED QUIRK (:560-566): after map_entities drops suppressed
      labels, the weight lookup indexes counts by the FILTERED position
      (``curr_counts[j]`` for filtered ``curr_e[j]``), so when a suppressed
      label precedes a kept one the kept label gets the SUPPRESSED label's
      count. Replicated bit-for-bit; do not "fix".
    - subtype OCCURRENCE counting (:632): each descriptor contributes 1 per
      subtype (not its cluster count) — "to avoid cluster context
      overwhelming the current sentence context"."""
    subs = tuple(
        (entity_map[label], label, 1)
        for label in labels
        if not skip_untagged(label, suppress_untagged)
    )
    total = sum(int(c) for c in counts)  # ALL counts, pre-filter (:558)
    total = 1 if total == 0 else total
    # QUIRK: counts indexed by filtered position j (:560-566)
    weights = tuple(
        (group, float(counts[j]) / total) for j, (group, _, _) in enumerate(subs)
    )
    return subs, weights


DESCRIPTOR_ENTRY = {"v1": descriptor_entry_v1, "v2": descriptor_entry}


def aggregate_entries(entries: list[Entry], scores: list[float]):
    """Per-mention part: descriptor i adds its subtype increments and
    weight[j] * score[i] per group, in rank order; then sort, normalize
    and decorate.

    Returns (decorated_entities, confidences, subtypes) where
    decorated_entities are "GROUP[sub1,sub2,...]" strings sorted by pooled
    score desc, confidences the normalized rounded distribution, and
    subtypes the {group: {subtype: count}} map.
    """
    agg: dict[str, float] = {}
    subtypes: dict[str, dict[str, int]] = {}
    for (subs, weights), score in zip(entries, scores):
        for group, label, n in subs:
            sub = subtypes.setdefault(group, {})
            sub[label] = sub.get(label, 0) + n
        for group, w in weights:
            agg[group] = agg.get(group, 0.0) + w * score
    # sort by value desc, group asc on ties (SQL-twin tie-break; see module
    # docstring for the deliberate divergence from :636 insertion order)
    ordered = sorted(agg.items(), key=lambda kv: (-kv[1], kv[0]))
    if not ordered:  # all terms suppressed (:637-639, v1 :570-572)
        ordered = [(OTHER_LABEL, 1.0)]
        subtypes[OTHER_LABEL] = {OTHER_LABEL: 1}
    confidences = normalize_round([v for _, v in ordered])
    # sort_subtypes (:660-665) + update_entities_with_subtypes (:667-678)
    decorated = []
    for g, _ in ordered:
        if g in subtypes:
            ranked = sorted(subtypes[g].items(), key=lambda kv: (-kv[1], kv[0]))
            decorated.append(g + "[" + ",".join(s for s, _ in ranked) + "]")
        else:
            decorated.append(g)
    return decorated, confidences, subtypes


def aggregate_entities(
    descs: Descs,
    signatures: list[Signature],
    entity_map: dict[str, str],
    suppress_untagged: bool = True,
):
    """Per-mention, per-side (CI or CS) v2 signature aggregation
    (batched_main_NER.py:602-657): ``descriptor_entry`` per descriptor,
    composed by ``aggregate_entries`` with the MLM scores."""
    assert len(descs) == len(signatures)
    return aggregate_entries(
        [descriptor_entry(labels, counts, entity_map, suppress_untagged)
         for labels, counts in signatures],
        [float(score) for _, score in descs],
    )


def aggregate_entities_v1(
    descs: Descs,
    signatures: list[Signature],
    entity_map: dict[str, str],
    suppress_untagged: bool = True,
):
    """v1 (per-mention, main_NER.py) aggregation — the alternative to the v2
    softmax path for users replaying v1 outputs: ``descriptor_entry_v1`` per
    descriptor, composed by ``aggregate_entries``, so descriptor i's label
    j contributes (count[j] / total) * desc_score_i."""
    assert len(descs) == len(signatures)
    return aggregate_entries(
        [descriptor_entry_v1(labels, counts, entity_map, suppress_untagged)
         for labels, counts in signatures],
        [float(score) for _, score in descs],
    )


def pool_confidences(
    ci_entities: list[str],
    ci_confidences: list[float],
    ci_subtypes: dict[str, dict[str, int]],
    cs_entities: list[str],
    cs_confidences: list[float],
    cs_subtypes: dict[str, dict[str, int]],
    blank_probe: bool,
):
    """CI+CS pooling (batched_main_NER.py:165-233).

    Sums CI and CS confidences per base type (decoration stripped at '['),
    skipping CI entirely for blank-probe sentences (:172-173); pools subtype
    factors CS-first then CI (:191-211); re-normalizes + rounds both levels.

    Returns an ordered list of (entity, confidence, [(subtype, factor), ...]).
    """
    main: dict[str, float] = {}
    if not blank_probe:
        for e, c in zip(ci_entities, ci_confidences):
            main[e.split("[")[0]] = float(c)
    for e, c in zip(cs_entities, cs_confidences):
        base = e.split("[")[0]
        main[base] = main.get(base, 0.0) + float(c)
    ordered = sorted(main.items(), key=lambda kv: (-kv[1], kv[0]))
    dist = normalize_round([v for _, v in ordered])
    # subtype pooling: CS first, then CI unless blank probe (:191-211)
    pooled: list[tuple[str, float, list[tuple[str, float]]]] = []
    for (e_class, _), conf in zip(ordered, dist):
        factors: dict[str, float] = {}
        if e_class in cs_subtypes:
            for st, v in cs_subtypes[e_class].items():
                factors[st] = factors.get(st, 0.0) + v
        if not blank_probe and e_class in ci_subtypes:
            for st, v in ci_subtypes[e_class].items():
                factors[st] = factors.get(st, 0.0) + v
        st_ordered = sorted(factors.items(), key=lambda kv: (-kv[1], kv[0]))
        st_dist = normalize_round([v for _, v in st_ordered]) if st_ordered else []
        pooled.append(
            (e_class, conf, list(zip([s for s, _ in st_ordered], st_dist)))
        )
    return pooled


def pack_confidences(entities: list[str], confidences: list[float]) -> Dist:
    """pack_confidences (batched_main_NER.py:396-413): compress each
    decorated per-side entity "MAIN[sub1,sub2,...]" to "MAIN[sub1]" (bare
    MAIN when the top subtype equals the main class or there is none).
    These packed per-side distributions are what the ensemble server uses
    for cross-prediction detection (orig_cs/ci_prediction_details)."""
    out: Dist = []
    for e, c in zip(entities, confidences):
        parts = e.split("[")
        main = parts[0]
        if len(parts) > 1:
            sub = parts[1].split(",")[0].rstrip("]")
            packed = main if main == sub else f"{main}[{sub}]"
        else:
            packed = main
        out.append((packed, float(c)))
    return out


def top_prediction(pooled) -> str:
    """Argmax type + its top subtype -> "TYPE[SUBTYPE]" or bare type; empty
    -> OTHER (fill_detected_entities, batched_main_NER.py:457-467)."""
    if not pooled:
        return OTHER_LABEL
    e_class, _conf, st = pooled[0]
    if st:
        top_st = st[0][0]
        if top_st != e_class:
            return f"{e_class}[{top_st}]"
    return e_class
