"""The benchmark's own tests: generator determinism, metric naming and a
tiny-size smoke run of every workload.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import re
import shutil
import subprocess
import sys
from collections import Counter
from pathlib import Path
from urllib.parse import urlsplit

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _digest(seed: int) -> str:
    h = hashlib.sha256()
    corpus = gen.crawl_corpus(seed, n_pages=300, n_hosts=12, links=6)
    for url, html in corpus["pages"]:
        h.update(url.encode() + b"\0" + html)
    h.update(repr(corpus["seeds"]).encode())
    for url, html in gen.record_pages(seed, n_pages=12, rows=5):
        h.update(url.encode() + b"\0" + html)
    docs = gen.documents(seed, n_docs=300)
    h.update(repr((docs["docs"], sorted(docs["exact_ids"]),
                   sorted(docs["near_ids"]))).encode())
    return h.hexdigest()


def test_same_seed_same_bytes_other_seed_other_bytes():
    assert _digest(7) == _digest(7)
    assert _digest(7) != _digest(8)


def test_generated_shape_is_seed_independent():
    want_hosts = sorted((c for c in gen.host_counts(500, gen.N_HOSTS,
                                                    gen.SKEW) if c),
                        reverse=True)
    for seed in (1, 2):
        corpus = gen.crawl_corpus(seed, n_pages=500)
        assert len(corpus["pages"]) == 500
        assert len(corpus["seeds"]) == round(500 * gen.SEED_SHARE)
        hosts = Counter(urlsplit(u).hostname for u, _ in corpus["pages"])
        assert sorted(hosts.values(), reverse=True) == want_hosts
        docs = gen.documents(seed, n_docs=5000)
        assert len(docs["exact_ids"]) == 8 and len(docs["near_ids"]) == 245
        pages = gen.record_pages(seed, n_pages=20, rows=4)
        assert pages[9] == pages[8] and pages[19] == pages[18]


def test_metric_names_and_units():
    for name, (unit, better) in {**END_TO_END, **PER_LAYER}.items():
        assert NAME_RE.fullmatch(name), name
        assert UNIT_RE.fullmatch(unit), unit
        assert better in ("lower", "higher")


def test_benchmark_json_matches_the_runner():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for key, table in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        assert {m["name"]: (m["unit"], m["better"]) for m in spec[key]} \
            == table
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_run_prints_every_metric(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", trace, "--scale", "0.05")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = PER_LAYER if trace == "1" else END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == \
        {k: u for k, (u, _) in want.items()}
    if trace == "0":
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "crawl", "--seed", "1", "--seconds",
             "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
