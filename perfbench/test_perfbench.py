"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

- the generator is deterministic for a seed, and another seed changes
  values but not sizes or planted duplicates;
- the metric names the benchmark emits match ``BENCHMARK.json``;
- a tiny-input traced run of every workload finishes with no failed query,
  no failed check and a consistent trace.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


@pytest.fixture
def work_dir():
    """A scratch directory inside the benchmark's own work area."""
    os.makedirs(run.WORK, exist_ok=True)
    d = tempfile.mkdtemp(prefix="test-", dir=run.WORK)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _digests(d: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(d)):
        path = os.path.join(d, name)
        if os.path.isfile(path):
            with open(path, "rb") as fh:
                out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _write_all(d: str, seed: int) -> dict[str, int]:
    tables = gen.tpch_tables(0.002, seed)
    tables["events"] = gen.events_table(0.002, seed)
    tables.update(gen.salted_corpus(gen.base_corpus(0.002, seed), seed, 1))
    gen.write_tables(d, tables)
    gen.mr_text_files(os.path.join(d, "text"), seed, 2, 50)
    return {k: t.num_rows for k, t in tables.items()}


def test_generator_same_seed_is_byte_identical(work_dir):
    a, b = os.path.join(work_dir, "a"), os.path.join(work_dir, "b")
    assert _write_all(a, 7) == _write_all(b, 7)
    assert _digests(a) == _digests(b)
    assert _digests(os.path.join(a, "text")) == _digests(os.path.join(b, "text"))


def test_generator_other_seed_keeps_sizes_changes_content(work_dir):
    a, c = os.path.join(work_dir, "a"), os.path.join(work_dir, "c")
    assert _write_all(a, 7) == _write_all(c, 8)
    da, dc = _digests(a), _digests(c)
    assert da.keys() == dc.keys()
    assert all(da[k] != dc[k] for k in da if k not in ("region.parquet", "nation.parquet"))
    assert _digests(os.path.join(a, "text")) != _digests(os.path.join(c, "text"))


def test_salted_copies_keep_duplicates_and_lengths():
    base = gen.base_corpus(0.01, 3)
    copies = [gen.salted_corpus(base, 3, k)["documents"] for k in (1, 2)]
    lengths = [sorted(d.column("n_chars").to_pylist()) for d in copies]
    assert lengths[0] == lengths[1]
    dups = [len(d) - len(set(d.column("text").to_pylist())) for d in copies]
    assert dups[0] == dups[1] > 0  # the planted exact copies survive salting
    assert copies[0].column("text").to_pylist() != copies[1].column("text").to_pylist()


def test_metric_names_match_benchmark_json():
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == list(layers.PER_LAYER_NAMES)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        n: run._unit(n) for n in layers.PER_LAYER_NAMES
    }
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_traced_run(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "1", "--tiny"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["failed"] == 0 and result["correct"], proc.stdout
    assert set(result["metrics"]) == set(layers.PER_LAYER_NAMES)
    assert result["metrics"]["trace.consistency_failures"]["value"] == 0, proc.stdout
