"""Self-test of the benchmark: tiny-size smoke runs print every metric
BENCHMARK.json names, with its unit, and each workload's output check
rejects a deliberately corrupted output.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark (under a minute each); the check tests do not.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
from workloads import (  # noqa: E402
    SIZES, crawl_check, curate_check, parse_check, parse_reference,
)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", "3", "--seconds", "2", "--size", "tiny",
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _assert_metrics(result: dict, spec: list) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for v in result["metrics"].values():
        assert isinstance(v["value"], float)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_end_to_end(workload):
    _assert_metrics(_run(workload, 0), SPEC["end_to_end"])


def test_smoke_traced():
    _assert_metrics(_run("curate_corpus", 1), SPEC["per_layer"])


def test_crawl_check_rejects_corruption():
    web = inputs.gallery(3, **SIZES["crawl_table"]["tiny"])
    level = {c for s in web.seeds for c in web.children[s]}
    fetched = {u: set(web.images[u]) for u in level}
    assert crawl_check(web, level, fetched) == []
    page = sorted(level)[0]
    fetched[page].pop()
    assert crawl_check(web, level, fetched)
    del fetched[page]
    assert crawl_check(web, level, fetched)


def test_parse_check_rejects_corruption():
    from img_spark.sources.site_config import rows_from_config

    web = inputs.gallery(3, hosts=4, albums=4, pages_per_album=6, skew=2,
                         imgs_base=10, imgs_var=7, paragraphs=4)
    urls = [r[0] for r in web.rows][:20]
    ref = parse_reference(web.rows, rows_from_config(web.config), urls)
    sample = dict(ref)
    n, imgs = len(web.rows), web.image_total
    assert parse_check(web, ref, n, imgs, sample) == []
    assert parse_check(web, ref, n, imgs - 1, sample)
    u = next(u for u in urls if ref[u][0])
    sample[u] = (ref[u][0][1:], ref[u][1])
    assert parse_check(web, ref, n, imgs, sample)


def test_curate_check_rejects_corruption():
    docs = inputs.documents(3, **SIZES["curate_corpus"]["tiny"])
    copies = set(docs.exact_copies) | set(docs.near_copies)
    flags = {r[0]: (r[0] in docs.exact_copies, r[0] in copies)
             for r in docs.rows}
    stats = {"documents": len(docs.rows)}
    assert curate_check(docs, stats, flags) == []
    bad = dict(flags)
    bad[docs.near_copies[0]] = (False, False)
    assert curate_check(docs, stats, bad)
    bad = dict(flags)
    bad[docs.originals[0]] = (True, False)
    assert curate_check(docs, stats, bad)


def test_inputs_are_seeded():
    a = inputs.gallery(5, **SIZES["crawl_table"]["tiny"])
    b = inputs.gallery(5, **SIZES["crawl_table"]["tiny"])
    c = inputs.gallery(6, **SIZES["crawl_table"]["tiny"])
    assert a.rows == b.rows and a.rows != c.rows
    assert len(a.rows) == len(c.rows) and a.image_total == c.image_total
    d = inputs.documents(5, **SIZES["curate_corpus"]["tiny"])
    e = inputs.documents(6, **SIZES["curate_corpus"]["tiny"])
    assert len(d.rows) == len(e.rows)
    assert d.boilerplate_share == e.boilerplate_share
