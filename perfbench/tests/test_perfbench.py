"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from perfbench import histgen
from perfbench.stats import geomean, percentile


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_generator_is_deterministic(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    ma = histgen.generate(a, seed=7, count=30)
    mb = histgen.generate(b, seed=7, count=30)
    histgen.generate(c, seed=8, count=30)
    assert ma == mb
    assert _tree_bytes(a) == _tree_bytes(b)
    assert _tree_bytes(a) != _tree_bytes(c)


def test_generator_writes_a_down_file_per_migration_and_plants_findings(tmp_path):
    root = str(tmp_path)
    manifest = histgen.generate(root, seed=3, count=40)
    files = os.listdir(root)
    assert len(files) == 2 * len(manifest) + 1  # plus manifest-1.json
    for m in manifest:
        stem = f"V{m['version']}_{m['name']}"
        assert stem + ".up.sql" in files and stem + ".down.sql" in files
        assert m["checksum"] == histgen.checksum(m["up_sql"])
    rules = {r for _, r in histgen.expected_findings(manifest)}
    assert len(rules) >= 5
    assert any(m["concurrent"] for m in manifest)


def test_generator_extends_the_same_history(tmp_path):
    whole = histgen.generate(str(tmp_path / "w"), seed=5, count=12)
    first = histgen.generate(str(tmp_path / "p"), seed=5, count=8)
    rest = histgen.generate(str(tmp_path / "p"), seed=5, count=4, start=9)
    assert first + rest == whole


@pytest.mark.parametrize("q", [0, 10, 50, 90, 100])
def test_percentile_matches_numpy(q):
    values = [5.0, 1.0, 9.5, 3.25, 7.0, 2.0, 8.0]
    assert percentile(values, q) == pytest.approx(np.percentile(values, q))


def test_geomean():
    assert geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_listener_aggregates_one_drain():
    """One registry drain under the benchmark's listener: every started
    query terminates and its batches add up to the table's rows."""
    import pyarrow.parquet as pq

    from database_migration_engine_spark.plans import QUERIES
    from database_migration_engine_spark.session import build_session
    from perfbench.trace import StreamStats
    from perfbench.workloads import SF_DIR

    spark = build_session(app_name="perfbench-test", master="local[2]",
                          shuffle_partitions=2)
    listener = StreamStats()
    spark.streams.addListener(listener)
    try:
        QUERIES["events_tumbling_stream"](spark, SF_DIR).collect()
        assert listener.wait_terminated()
        totals = listener.totals()
    finally:
        spark.streams.removeListener(listener)
        spark.stop()
    assert listener.started and listener.started <= listener.terminated
    assert totals["stream.batches"] >= 1
    assert totals["stream.input_rows"] == pq.read_metadata(
        os.path.join(SF_DIR, "events.parquet")).num_rows
    assert totals["stream.trigger_ms"] >= totals["stream.add_batch_ms"] > 0
