"""Benchmark-side descriptor providers.

``context_provider`` is the ``provider_factory`` of the ``ingest_context``
workload: it serves the committed fixture descriptors but, like
``HFBertDescriptorProvider``, declares no ``cache_key``, so the tagger's
typing memo never engages and every mention pays the descriptor fetch,
signature join, softmax aggregation and pooling.

``CountingProvider`` wraps a provider for the in-process kernel
measurement and counts descriptor fetches; since a memo hit skips both
fetches of a mention, hits = mentions - CI fetches.
"""

from __future__ import annotations

_PROVIDERS: dict = {}


class ContextFixtureProvider:
    """Fixture descriptors without a memoization key."""

    def __init__(self, inner):
        self._inner = inner

    def descriptors(self, surface, side, context=None):
        return self._inner.descriptors(surface, side, context=context)


def context_provider(model: str = "a100") -> ContextFixtureProvider:
    """Loaded once per Python worker process, as a model server would be."""
    if model not in _PROVIDERS:
        from unsupervised_ner_spark.descriptors import FixtureDescriptorProvider

        _PROVIDERS[model] = ContextFixtureProvider(FixtureDescriptorProvider.load(model))
    return _PROVIDERS[model]


class CountingProvider:
    """Pass-through provider that counts CI descriptor fetches; exposes
    ``cache_key`` only when the wrapped provider does."""

    def __init__(self, inner):
        self._inner = inner
        self.ci_fetches = 0
        if hasattr(inner, "cache_key"):
            self.cache_key = inner.cache_key

    def descriptors(self, surface, side, context=None):
        if side == "ci":
            self.ci_fetches += 1
        return self._inner.descriptors(surface, side, context=context)
