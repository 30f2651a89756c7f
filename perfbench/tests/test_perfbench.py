"""Tests of the benchmark itself: seeded inputs, the printed metric names and
the correctness gate.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import check  # noqa: E402
import gen  # noqa: E402


def _files(path: str) -> dict[str, bytes]:
    out = {}
    for top, _, names in os.walk(path):
        for n in names:
            p = os.path.join(top, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, path)] = f.read()
    return out


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_same_seed_gives_identical_inputs(tmp_path, workload):
    gen.build(workload, 7, str(tmp_path / "a"))
    gen.build(workload, 7, str(tmp_path / "b"))
    a, b = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert a and a == b


def _html_stats(path: str) -> tuple:
    return duckdb.connect().execute(
        f"select count(*), count(distinct html) "
        f"from read_parquet('{path}/html/*.parquet')").fetchone()


def _near_dups(docs) -> int:
    return sum(t.endswith(" dup") for t in docs.column("text").to_pylist())


@pytest.mark.parametrize("workload", ["crawl_distinct", "crawl_mirror"])
def test_new_seed_keeps_sizes_and_duplicate_share(tmp_path, workload):
    a = gen.build(workload, 1, str(tmp_path / "a"))
    b = gen.build(workload, 2, str(tmp_path / "b"))
    assert a["rows"] == b["rows"]
    sa, sb = _html_stats(str(tmp_path / "a")), _html_stats(str(tmp_path / "b"))
    assert sa == sb
    assert sa[1] / sa[0] == (1.0 if workload == "crawl_distinct" else 0.125)
    assert _near_dups(a["docs"]) == _near_dups(b["docs"]) > 0
    ids_a = a["docs"].column("doc_id").to_pylist()
    assert ids_a != b["docs"].column("doc_id").to_pylist()


def test_every_kind_gets_an_equal_share():
    n = gen.SIZES["crawl_distinct"]["docs"]
    parts = gen.split_shapes(4, gen.documents(4, n))
    assert sorted(parts) == sorted(gen.KINDS)
    assert {p.num_rows for p in parts.values()} == {n // len(gen.KINDS)}


def test_doc_ids_stay_below_the_fanout_offset():
    for seed in range(50):
        ids = gen.documents(seed, gen.SIZES["crawl_distinct"]["docs"]).column(
            "doc_id")
        assert max(ids.to_pylist()) < gen.ID_LIMIT
        assert len(set(ids.to_pylist())) == len(ids)


def test_planted_wrong_row_fails_webtext(tmp_path):
    info = {"docs": gen.documents(3, gen.WEBTEXT_DOCS), "rows": gen.WEBTEXT_DOCS}
    expect = check.expected("webtext", info)
    out = tmp_path / "out"
    out.mkdir()
    pq.write_table(expect, str(out / "part-0.parquet"))
    assert check.failures("webtext", expect, {"text": str(out)},
                          info["rows"]) == 0
    bad = expect.to_pylist()
    bad[0]["n_tokens"] += 1
    pq.write_table(expect.from_pylist(bad, expect.schema),
                   str(out / "part-0.parquet"))
    assert check.failures("webtext", expect, {"text": str(out)},
                          info["rows"]) > 0


def test_planted_wrong_row_fails_crawl_distinct(tmp_path):
    info = gen.build("crawl_distinct", 3, str(tmp_path / "in"))
    expect = check.expected("crawl_distinct", info)
    con = duckdb.connect()
    con.register("e", expect["html"])
    # an extract output equal to the twin, spans rebuilt as structs
    html = con.execute(
        "select url, main_text, inner_text, text_content, title, n_nodes, "
        "n_elements, cast(null as varchar) as err, list_transform("
        "string_split(spans, ','), x -> {'node_id': 0, 'begin': cast("
        "split_part(x, ':', 1) as bigint), 'length': cast(split_part(x, ':',"
        " 2) as bigint)}) as spans from e").fetch_arrow_table()
    out = {k: str(tmp_path / k) for k in ("text", "pdf")}
    for k in out:
        os.makedirs(out[k])
    pq.write_table(expect["pdf"].append_column(
        "err", duckdb.connect().execute(
            f"select cast(null as varchar) as err from range("
            f"{expect['pdf'].num_rows})").fetch_arrow_table().column(0)),
        os.path.join(out["pdf"], "part-0.parquet"))
    path = os.path.join(out["text"], "part-0.parquet")
    pq.write_table(html, path)
    assert check.failures("crawl_distinct", expect, out, info["rows"]) == 0
    rows = html.to_pylist()
    rows[5]["main_text" if rows[5]["main_text"] else "inner_text"] += "x"
    pq.write_table(html.from_pylist(rows, html.schema), path)
    failed = check.failures("crawl_distinct", expect, out, info["rows"])
    assert failed == 1 and failed / info["rows"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_mirror",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert not p.stdout.strip()


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"),
                                           (1, "per_layer")])
def test_printed_metrics_match_benchmark_json(trace, section):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = {m["name"]: m["unit"] for m in json.load(f)[section]}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_mirror",
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == spec
    if trace:
        m = result["metrics"]
        assert m["operators.extract.distinct_share"]["value"] == 0.125
        assert m["ledger.attributed_share"]["value"] >= 0.9
