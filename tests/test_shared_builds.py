"""The shared-build rule, checked mechanically.

A shared build (``@shared_build`` in dblab_ece_trino_spark.session) is
only worth its per-session cache when at least two registered entries
read it.  Each build declares its consumers; this test checks the
declaration against the registry and against what the consumers
actually call.
"""

from __future__ import annotations

import sys
from collections import Counter

from tests.conftest import SF_SMALL

LABELS = [
    "coorder_pairs",
    "dupspan_islands",
    "ivf_build",
    "minhash_clusters",
    "price_cum",
    "quant_build",
    "shingle_index",
]


def test_shared_builds_have_two_real_consumers(spark, monkeypatch):
    from dblab_ece_trino_spark.operators.registry import spark_queries
    from dblab_ece_trino_spark.session import shared_builds

    builds = shared_builds()
    assert sorted(builds) == LABELS
    entries = spark_queries()

    calls: Counter = Counter()
    for label, build in builds.items():
        assert len(build.consumers) >= 2, (label, build.consumers)
        unknown = [c for c in build.consumers if c not in entries]
        assert not unknown, f"{label}: consumers not registered: {unknown}"

        def counting(*args, _label=label, _build=build, **kwargs):
            calls[_label] += 1
            return _build(*args, **kwargs)

        # Consumers read the build through module attributes (module
        # imports and function-local ``from ... import``), so replacing
        # every attribute bound to it sees every call.
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith("dblab_ece_trino_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                if value is build:
                    monkeypatch.setattr(mod, attr, counting)

    missed = []
    for label, build in sorted(builds.items()):
        for consumer in build.consumers:
            before = calls[label]
            entries[consumer](spark, SF_SMALL)
            if calls[label] == before:
                missed.append(f"{consumer} does not call shared_{label}")
    assert not missed, "\n".join(missed)


def test_shared_build_key_applies_defaults(spark):
    """Explicit default arguments hit the same cache entry."""
    from dblab_ece_trino_spark.operators.analytics import shared_price_cum
    from dblab_ece_trino_spark.operators.similarity import shared_ivf_build

    assert shared_ivf_build(spark, SF_SMALL) is shared_ivf_build(
        spark, SF_SMALL, k=5
    )
    assert shared_price_cum(spark, SF_SMALL) is shared_price_cum(
        spark, sf_dir=SF_SMALL
    )
