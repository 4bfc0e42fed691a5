"""bench.py key resolution: every output key the harness looks up must
resolve to a registry entry through the one rename table — a rotation
that renames a gate without updating ``_REGISTRY_NAMES`` fails here,
not minutes into a bench run."""

import bench
from spark_sql_hbase_spark.queries import load_all


def test_every_bench_key_resolves():
    registry = load_all()
    keys = (
        list(bench.HEADLINE)
        + [name for name, _key in bench._SCALE_PATHS]
        + list(bench._REGISTRY_PATHS)
        + list(bench._WARM_UP)
        + ["k02_keyed_insert_compact"]
    )
    for key in keys:
        assert bench._lookup(registry, key) is not None, key
    # a table entry must name a real gate, and never shadow one
    for key, name in bench._REGISTRY_NAMES.items():
        assert name in registry, (key, name)
        assert key not in registry, key
    assert "z43_stream_windowed_counts" in registry
