"""The benchmark's own tests.

    python3 -m pytest mbrainz_bench/tests -q

The smoke runs start Spark through the real command, one process per run,
and take about a minute each.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from mbrainz_bench import corpus, metrics  # noqa: E402


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _tree(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root) for f in files
    )


def test_generator_is_byte_identical_per_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    corpus.write_corpus(str(a), 7, 0.01)
    corpus.write_corpus(str(b), 7, 0.01)
    corpus.write_corpus(str(c), 8, 0.01)
    files = _tree(str(a))
    assert files == _tree(str(b))
    assert "entities/media.edn" in files and "truth.json" in files
    _, mismatch, errors = filecmp.cmpfiles(str(a), str(b), files, shallow=False)
    assert mismatch == [] and errors == []
    assert not filecmp.cmp(a / "entities/artists.edn", c / "entities/artists.edn",
                           shallow=False)


def test_generator_shapes():
    raw = corpus.generate(3, 0.02)
    # optional keys are absent, never null
    assert all(v is not None for rows in raw.values() for r in rows for v in r.values())
    assert any("type" not in a for a in raw["artists"])
    gids = [r["gid"] for r in raw["releases"]]
    assert len(set(gids)) < len(gids), "expected duplicate release gids"
    # media rows are consecutive per medium id, with multi-artist tracks
    ids = [m["id"] for m in raw["media"]]
    assert ids == sorted(ids)
    keys = [(m["id"], m["tracknum"]) for m in raw["media"]]
    assert len(set(keys)) < len(keys), "expected multi-artist tracks"


def test_tail_has_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    value, pct, n = metrics.tail(xs)
    assert n == 100 and sum(x > value for x in xs) == 10 and pct == 90.0
    assert metrics.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_metric_names_match_benchmark_json():
    bench = _benchmark()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {
        k: u for k, (u, _) in metrics.END_TO_END.items()}
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    from mbrainz_bench.workloads import WORKLOADS

    assert sorted(w["name"] for w in bench["workloads"]) == sorted(WORKLOADS)


@pytest.mark.parametrize("workload", ["import", "serve"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_passes_every_check(workload, trace):
    bench = _benchmark()
    out = subprocess.run(
        [*bench["command"], "--workload", workload, "--seed", "11",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.strip().splitlines()
    result = json.loads(out[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    names = bench["per_layer" if trace else "end_to_end"]
    assert {k: m["unit"] for k, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in names}
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    record = json.loads(out[-2])
    assert record["cores"] <= 4 and record["spark_conf"]
