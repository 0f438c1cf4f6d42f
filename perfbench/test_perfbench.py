"""Self-tests for the benchmark's own pieces.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import pathlib
import sys

import pyarrow.parquet as pq
import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import datagen, record  # noqa: E402
from perfbench.compare import compare  # noqa: E402
from perfbench.layers import (  # noqa: E402
    STAGE_FIELDS,
    combine,
    digest_frame,
    line_digest,
    self_times,
)
from perfbench.workloads import (  # noqa: E402
    LOOP_PIPELINE,
    SQL_STAR,
    TABLES_DIR,
    WARM_DIR,
    WORKLOADS,
    load_pinned,
)

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())


# --- generators ---------------------------------------------------------


def test_corpus_same_seed_gives_identical_bytes(tmp_path):
    a = datagen.write_corpus(tmp_path / "a", seed=5, n_files=3, total_bytes=30_000)
    b = datagen.write_corpus(tmp_path / "b", seed=5, n_files=3, total_bytes=30_000)
    c = datagen.write_corpus(tmp_path / "c", seed=6, n_files=3, total_bytes=30_000)
    assert [p.read_bytes() for p in a] == [p.read_bytes() for p in b]
    assert [p.read_bytes() for p in a] != [p.read_bytes() for p in c]
    for paths in (a, c):  # every seed gives the same total size
        assert abs(sum(p.stat().st_size for p in paths) - 30_000) <= 4 * 3
    text = "".join(p.read_text(encoding="utf-8") for p in a)
    assert any(not ch.isascii() and ch.isalpha() for ch in text)


def test_table_data_holds_every_table():
    for d in (TABLES_DIR, WARM_DIR):
        for name in TABLE_NAMES:
            assert pq.read_metadata(d / f"{name}.parquet").num_rows > 0, (d, name)
    timed = pq.read_metadata(TABLES_DIR / "lineitem.parquet").num_rows
    warm = pq.read_metadata(WARM_DIR / "lineitem.parquet").num_rows
    assert timed > 5 * warm


def test_datagen_writes_corpus_and_expected_digests(tmp_path):
    assert datagen.main(["--seed", "3", "--out", str(tmp_path), "--apps", "wc"]) == 0
    expected = json.loads((tmp_path / "expected.json").read_text())
    corpus = sorted((tmp_path / "main").glob("*.txt"))
    assert len(corpus) == 16 and len(list((tmp_path / "warm").glob("*.txt"))) == 2
    assert expected["wc"] == line_digest(datagen.sequential_lines("wc", corpus))
    assert expected["wc"][0] > 1000


# --- digest -----------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from mit6_5840_6_824_lab1_mapreduce_spark.session import get_spark

    s = get_spark(
        app_name="perfbench-test",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()


def _digest(spark, rows):
    df = spark.createDataFrame(rows, "k string, v long")
    return combine(*digest_frame(df).collect()[0])


def test_digest_is_order_insensitive_and_catches_changes(spark):
    rows = [("a", 1), ("b", 2), ("c", 3)]
    base = _digest(spark, rows)
    assert _digest(spark, list(reversed(rows))) == base
    assert _digest(spark, [("a", 1), ("b", 2), ("c", 4)]) != base  # one changed row
    assert _digest(spark, rows + [("b", 2)]) != base  # one duplicated row
    # A bit_xor fold cancels a row that appears twice; the sum does not.
    dup2 = _digest(spark, [("a", 1), ("b", 2), ("b", 2)])
    assert dup2 != _digest(spark, [("a", 1), ("z", 9), ("z", 9)])


def test_line_digest_is_a_multiset_digest():
    lines = ["a 1", "b 2", "c 3"]
    base = line_digest(lines)
    assert line_digest(reversed(lines)) == base
    assert line_digest(["a 1", "b 2", "c 4"]) != base  # one changed line
    assert line_digest(lines + ["b 2"]) != base  # one duplicated line
    assert line_digest([]) == [0, 0]


def test_digest_of_empty_frame(spark):
    df = spark.createDataFrame([], "k string")
    assert combine(*digest_frame(df).collect()[0]) == [0, 0]


def test_combine_wraps_to_64_bits():
    assert combine(2, 5, -1) == [2, ((-1 << 32) + 5) % (1 << 64)]
    assert combine(1, 0xFFFFFFFF, 0x7FFFFFFF) == [1, (1 << 63) - 1]


def test_every_table_item_has_a_pinned_digest():
    pinned = load_pinned()
    assert set(SQL_STAR) | set(LOOP_PIPELINE) <= set(pinned)


# --- metrics and record schema ---------------------------------------------


def test_metric_names_and_units_follow_the_contract():
    for name in list(record.END_TO_END) + list(record.REPORTED) + list(record.PER_LAYER):
        assert record.NAME_RE.fullmatch(name), name
    e2e = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    per = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert e2e == record.END_TO_END
    assert per == record.PER_LAYER
    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(WORKLOADS)


def test_result_line_schema():
    metrics = {k: 1.5 for k in record.END_TO_END}
    line = record.result_line(True, 3, 0, metrics, record.END_TO_END)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert set(line["metrics"]) == set(record.END_TO_END)
    for m in line["metrics"].values():
        assert set(m) == {"value", "unit"}
    json.dumps(line)


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(200)]
    value, pct, n = record.tail(xs)
    assert (n, pct) == (200, 95.0)
    assert sum(x > value for x in xs) == 10


def test_tail_is_p90_on_few_samples():
    value, pct, n = record.tail([float(i) for i in range(11)])
    assert (value, pct, n) == (pytest.approx(9.0), 90.0, 11)
    value, _, _ = record.tail([1.0, 2.0])
    assert value == pytest.approx(1.9)
    assert record.tail([4.0]) == (4.0, 90.0, 1)


def test_per_layer_metrics_cover_every_name():
    zeros = dict.fromkeys(STAGE_FIELDS, 0)
    counts = {
        "build_jobs": 2,
        "jobs": 3,
        "stages": 4,
        **zeros,
        "run_ms": 100,
        "cpu_ms": 40.0,
        "split": {"map": zeros, "reduce": zeros},
    }
    layers = record.item_layers(
        [{"name": "queries.build", "start": 0.0, "end": 0.5}], counts, is_mr=False
    )
    out = record.per_layer_metrics([{"wall_s": 1.0, "items": [layers]}], {}, cores=4)
    assert set(out) == set(record.PER_LAYER)
    assert out["queries.build_ms"] == pytest.approx(500.0)
    assert out["executor.blocked_ms"] == pytest.approx(60.0)
    assert out["executor.core_util"] == pytest.approx(40.0 / 4000.0)


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "parent": None, "name": "item", "start": 0.0, "end": 1.0},
        {"id": 1, "parent": 0, "name": "spark.exec", "start": 0.2, "end": 0.8},
    ]
    assert self_times(spans) == pytest.approx({"item": 0.4, "spark.exec": 0.6})


def test_compare_refuses_different_environments():
    env = {"cores": 4, "pyspark": "4.1.2", "java": "17", "python": "3.11"}
    a = {"workload": "mr_corpus", "env": env, "end_to_end": {"wall_s": 2.0}}
    b = {"workload": "mr_corpus", "env": {**env, "cores": 8}, "end_to_end": {"wall_s": 1.0}}
    with pytest.raises(ValueError, match="cores"):
        compare(a, b)
    assert compare(a, {**b, "env": env})[0].startswith("wall_s")


def no_steal(item_s: dict[str, list[float]]) -> dict[str, list[tuple[float, float, float]]]:
    return {k: [(x, 1.0, 0.0) for x in v] for k, v in item_s.items()}


def test_wall_and_p50_use_item_medians():
    item_s = {"a": [1.0, 9.0, 2.0], "b": [3.0, 3.0, 4.0], "c": [8.0, 7.0, 20.0]}
    ref = record.PROBE_REF_S
    e2e, tail_info = record.end_to_end_metrics((3.0, 1.0, 0.0), no_steal(item_s), 4_000_000, 100.0, [ref] * 3)
    assert e2e["wall_s"] == pytest.approx(2.0 + 3.0 + 8.0)
    # item medians 2, 3, 8: the middle one, whatever the raw samples
    assert e2e["item_p50_s"] == pytest.approx(3.0)
    assert e2e["setup_s"] == 3.0
    assert e2e["input_mb_per_s"] == pytest.approx(4.0 / 13.0)
    assert tail_info["samples"] == 9


def test_times_rescale_to_the_reference_core_speed():
    item_s = {"a": [2.0, 3.0, 9.0], "b": [4.0, 5.0, 1.0]}
    # a host whose probe runs four times slower than the reference
    slow = [4 * record.PROBE_REF_S] * 5
    e2e, _ = record.end_to_end_metrics((3.0, 1.0, 0.0), no_steal(item_s), 1_000_000, 100.0, slow)
    factor = 0.25**record.PROBE_EXPONENT
    assert e2e["wall_raw_s"] == pytest.approx(7.0)
    assert e2e["wall_s"] == pytest.approx(7.0 * factor)
    assert e2e["item_p50_s"] == pytest.approx(3.5 * factor)
    assert e2e["setup_s"] == 3.0  # set-up and memory are not rescaled
    assert e2e["probe_ms"] == pytest.approx(4e3 * record.PROBE_REF_S)


def test_host_steal_is_taken_out_of_item_times():
    # the host took a quarter of the CPU time asked for in every pass
    stolen = {"a": [(4.0, 3.0, 1.0), (8.0, 3.0, 1.0), (6.0, 3.0, 1.0)]}
    e2e, _ = record.end_to_end_metrics((3.0, 1.0, 0.0), stolen, 1_000_000, 100.0, [record.PROBE_REF_S])
    assert e2e["wall_raw_s"] == pytest.approx(6.0)
    assert e2e["wall_s"] == pytest.approx(4.5)
    assert record.unstolen(2.0, 0.0, 0.0) == 2.0  # nothing ran: nothing to take out
    e2e, _ = record.end_to_end_metrics((20.0, 3.0, 1.0), stolen, 1_000_000, 100.0, [1.0])
    assert (e2e["setup_s"], e2e["setup_raw_s"]) == pytest.approx((15.0, 20.0))
