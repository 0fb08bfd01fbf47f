"""Generator determinism and the CDC stream's invariants."""

from __future__ import annotations

import hashlib
import json
import os

from perfbench import gen


def _digest(directory: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(directory, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(directory))
    }


def test_mysql_snapshot_is_byte_identical_per_seed(tmp_path):
    a = gen.mysql_snapshot(str(tmp_path / "a"), seed=7, total_rows=2_000)
    b = gen.mysql_snapshot(str(tmp_path / "b"), seed=7, total_rows=2_000)
    c = gen.mysql_snapshot(str(tmp_path / "c"), seed=8, total_rows=2_000)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert [(t.name, t.raw_rows, t.distinct_keys) for t in a] == [
        (t.name, t.raw_rows, t.distinct_keys) for t in b
    ]
    # sizes do not depend on the seed, only values do
    assert [t.raw_rows for t in a] == [t.raw_rows for t in c]
    largest = max(a, key=lambda t: t.raw_rows)
    assert largest.raw_rows / sum(t.raw_rows for t in a) > 0.6


def test_bi_warehouse_is_byte_identical_per_seed(tmp_path):
    rows_a = gen.bi_warehouse(str(tmp_path / "a"), seed=3, lineitem_rows=3_000)
    rows_b = gen.bi_warehouse(str(tmp_path / "b"), seed=3, lineitem_rows=3_000)
    rows_c = gen.bi_warehouse(str(tmp_path / "c"), seed=4, lineitem_rows=3_000)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert rows_a == rows_b == rows_c


def test_cdc_stream_is_deterministic_and_keeps_silver_flat():
    def run(seed):
        s = gen.CdcStream(seed, entities=500, batch_events=100)
        lines = s.snapshot()
        sizes = []
        for _ in range(5):
            lines += s.next_batch()
            sizes.append(len(s.state))
        return lines, sizes, s

    lines_a, sizes, s = run(11)
    lines_b, _, _ = run(11)
    lines_c, _, _ = run(12)
    assert lines_a == lines_b
    assert lines_a != lines_c
    assert sizes == [500] * 5  # creates re-insert retired keys
    live, _checksum = s.expected_state()
    assert live == (s.hot_first - 1) + len(s.live) == 500 - len(s.retired)


def test_cdc_batches_touch_few_partitions():
    """Creates, deletes and updates land in the newest months, plus one
    late correction per batch, so the upsert rewrites 2-3 of 12
    partitions, not the whole table."""
    s = gen.CdcStream(3, entities=6_000, batch_events=400)
    s.snapshot()
    hot = {gen.cdc_month(i, 6_000) for i in range(s.hot_first, 6_001)}
    assert len(hot) == gen.HOT_MONTHS
    for _ in range(5):
        months = set()
        for line in s.next_batch():
            if line.endswith("}"):
                env = json.loads(line)
                months.add((env["after"] or env["before"])["mes"])
        assert hot <= months and len(months) <= gen.HOT_MONTHS + s.COLD_UPDATES


def test_cdc_batch_mix():
    s = gen.CdcStream(5, entities=1_000, batch_events=200)
    s.snapshot()
    lines = s.next_batch()
    assert len(lines) == 200
    ops = [line.split('"op":"')[1][0] for line in lines if '"op":"' in line]
    assert ops.count("c") > 0 and lines.count("null") > 0
    malformed = [line for line in lines if line != "null" and not line.endswith("}")]
    assert malformed
    assert s.dropped_per_batch == lines.count("null") + len(malformed)
