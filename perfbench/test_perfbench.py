"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q                  # everything
    python3 -m pytest perfbench -q -m "not slow"    # without Spark runs

The slow tests run each workload of BENCHMARK.json end to end, untraced
and traced, with its output checks on.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

import pytest

from perfbench import gen
from perfbench.run import END_TO_END, PER_LAYER, ROOT
from perfbench.workloads import KG_PAGES, WORKLOADS, _oracle_triples

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_generator_is_deterministic(name, tmp_path):
    wl = WORKLOADS[name]
    a = wl.generate(1, str(tmp_path / "a"))
    b = wl.generate(1, str(tmp_path / "b"))
    c = wl.generate(2, str(tmp_path / "c"))
    assert a.digest == b.digest and a.sizes == b.sizes
    assert a.digest != c.digest


def test_page_lengths_are_long_tailed():
    rng = gen.np.random.default_rng(0)
    lens = [t.count(" ") + 1
            for t in gen.page_texts(rng, 1000, (1000, 3000))]
    assert sorted(n for n in lens if n >= 1000) == \
        list(gen.np.linspace(1000, 3000, 10).astype(int))
    assert max(n for n in lens if n < 1000) <= 80


def test_long_pages_spread_evenly_over_files(tmp_path):
    inputs = gen.gen_pages(2, "kg_pages", str(tmp_path), KG_PAGES,
                           (2000, 2400))
    per_file = [sum(t.count(" ") >= 1000 for t in
                    gen.pq.read_table(os.path.join(inputs.paths["pages"],
                                                   f))["text"].to_pylist())
                for f in sorted(os.listdir(inputs.paths["pages"]))]
    assert per_file == [KG_PAGES // 100 // 8] * 8


def test_crawl_plants_take_the_highest_ids(tmp_path):
    inputs = gen.gen_crawl(3, "admit", str(tmp_path), 3, 100)
    planted = set(inputs.extra["planted"])
    for b in range(3):
        ids = range(b * 1_000_000, b * 1_000_000 + 100)
        n_plant = sum(i in planted for i in ids)
        assert n_plant == (4 if b == 0 else 14)
        assert all(i in planted for i in ids[100 - n_plant:])


def test_metric_names_match_benchmark_json():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"])
            for m in SPEC["per_layer"]} == PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


def test_blocked_oracle_equals_relations_for_doc():
    from gliner_spark.operators.ner_fused import relations_for_doc
    from gliner_spark.operators.relations import DEFAULT_RULES

    rules = {(s, o): p for s, o, p in DEFAULT_RULES}
    labels = sorted({s for s, _, _ in DEFAULT_RULES}
                    | {o for _, o, _ in DEFAULT_RULES})
    rng = random.Random(7)
    for _ in range(50):
        starts = sorted(rng.sample(range(2000), rng.randint(0, 120)))
        spans = [(s, s + 3, f"w{s}", rng.choice(labels),
                  rng.uniform(0.5, 1.0)) for s in starts]
        want = sorted(("d", *r) for r in relations_for_doc(spans, rules, 96))
        assert sorted(_oracle_triples("d", spans, rules, 96)) == want


def _run(name: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", name,
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=300)
    assert proc.returncode == 0
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.slow
@pytest.mark.parametrize("name", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(name, trace):
    res = _run(name, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    units = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == \
        {k: (u[0] if trace else u) for k, u in units.items()}
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_refuses_to_run_without_the_package(tmp_path):
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg_pages",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, text=True, timeout=60)
    assert proc.returncode != 0 and proc.stdout == ""
