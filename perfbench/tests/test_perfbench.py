"""Tests of the benchmark itself (not of the package).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke tests start a Spark session per workload (about a minute each
on a 4-core machine); the catalog one runs the whole sample.
"""

from __future__ import annotations

import json
import subprocess
import sys
from decimal import Decimal
from pathlib import Path

import pytest

BENCH_DIR = Path(__file__).resolve().parent.parent
ROOT = BENCH_DIR.parent
sys.path[:0] = [str(BENCH_DIR), str(ROOT)]

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_price_lists_are_a_function_of_the_seed():
    p = gen.PriceListParams(rows_per_file=200)
    a, b = gen.price_lists(7, 6, p), gen.price_lists(7, 6, p)
    assert [(d.name, d.text, d.redelivery) for d in a] == [(d.name, d.text, d.redelivery) for d in b]
    assert [d.text for d in gen.price_lists(8, 6, p)] != [d.text for d in a]
    # the second of every 4 deliveries resends an earlier file byte for byte
    assert [d.redelivery for d in a] == [False, True, False, False, False, True]
    assert a[1].text == a[0].text and a[5].text in {d.text for d in a[:5]}


def test_catalog_tables_are_a_function_of_the_seed():
    a, b, c = (gen.catalog_tables(s, 0.001) for s in (3, 3, 4))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}


def test_oracle_restates_the_reference_golden_pairs():
    # FIXTURES.md §3
    assert oracle._provider("ProveedorABC@123") == "Proveedor Abc123"
    assert oracle._provider("@#$!") is None
    assert oracle._provider("HarinaDeTrigo") == "Harina De Trigo"
    assert oracle._price("$ 1.500,50") == Decimal(150050)
    assert oracle._price("1.000") == Decimal(1000)
    assert oracle._price("$.,") is None
    dates = oracle._Dates()
    assert dates("15/03/2024") == "2024-03-15"
    assert dates("March 15, 2024") == "2024-03-15"
    assert dates("not a date") is None


def test_printed_metric_names_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]


@pytest.mark.parametrize(
    "workload, trace",
    [
        ("workloads.EtlFiles()", False),
        ("workloads.EtlFiles()", True),
        ("workloads.CatalogMix()", False),
    ],
    ids=["etl_files", "etl_files-traced", "catalog_mix"],
)
def test_smoke_run_has_no_failures(workload, trace):
    # one Spark session per process, so each smoke run gets its own
    code = (
        f"import sys, json; sys.path[:0] = [{str(BENCH_DIR)!r}, {str(ROOT)!r}]\n"
        "import run, workloads\n"
        f"print(json.dumps(run.execute({workload}, seed=0, seconds=1, trace={trace})))\n"
    )
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                          timeout=600, check=True)
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
