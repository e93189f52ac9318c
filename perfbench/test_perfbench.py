"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_landing_is_deterministic_per_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    na = gen.gen_landing(a, 12, 2, seed=5)
    nb = gen.gen_landing(b, 12, 2, seed=5)
    nc = gen.gen_landing(c, 12, 2, seed=6)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    assert na == nb == nc  # sizes never depend on the seed


def test_tables_are_deterministic_per_seed(tmp_path):
    import pyarrow.parquet as pq

    a, b, c = (str(tmp_path / x) for x in "abc")
    na = gen.gen_tables(a, 0.001, seed=5)
    gen.gen_tables(b, 0.001, seed=5)
    gen.gen_tables(c, 0.001, seed=6)
    for t in na:
        ta = pq.read_table(os.path.join(a, f"{t}.parquet"))
        assert ta.num_rows == na[t]
        assert ta.equals(pq.read_table(os.path.join(b, f"{t}.parquet")))
    lineitem = "lineitem.parquet"
    assert not pq.read_table(os.path.join(a, lineitem)).equals(
        pq.read_table(os.path.join(c, lineitem))
    )


def _reference_counts(landing: str) -> dict[str, int]:
    """Silver and gold row counts derived from the CSVs by the reference's
    rules: both date formats parse, anything else is NULL; full-row dedup,
    then one row per (pollutant, site, date); gold merges the pollutants
    on (site, date) with NULL dates matching each other."""
    silver: set = set()
    for name in sorted(os.listdir(landing)):
        if not name.startswith("polluant-"):
            continue
        code = name.split("-", 1)[1].split("_", 1)[0]
        with open(os.path.join(landing, name), encoding="utf-8-sig") as f:
            rows = list(csv.reader(f, delimiter=";"))[1:]
        for r in rows:
            date = r[0]
            if len(date) == 10:
                date += " 00:00:00"
            elif len(date) != 19 or not date[:4].isdigit():
                date = None
            silver.add((code, r[5], date))
    gold = {(site, date) for _code, site, date in silver}
    return {"silver_rows": len(silver), "gold_rows": len(gold)}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_expected_count_formula(tmp_path, seed):
    landing = str(tmp_path / "landing")
    gen.gen_landing(landing, 30, 3, seed)
    expected = gen.expected_counts(30, 3, seed)
    ref = _reference_counts(landing)
    assert expected["silver_rows"] == ref["silver_rows"]
    assert expected["gold_rows"] == ref["gold_rows"]


def test_landing_carries_every_quirk(tmp_path):
    landing = str(tmp_path / "landing")
    gen.gen_landing(landing, workloads.MEDALLION_SITES, 1, seed=3)
    text = "".join(
        open(os.path.join(landing, n), encoding="utf-8").read()
        for n in os.listdir(landing)
    )
    assert "µg/m3" in text and "not-a-date" in text
    assert "validée;;;" in text  # empty valeur and valeur brute
    assert os.path.exists(os.path.join(landing, "notes.csv"))
    for name in os.listdir(landing):
        if name.startswith("polluant-"):
            with open(os.path.join(landing, name), encoding="utf-8") as f:
                lines = f.read().splitlines()
            assert len(lines) > len(set(lines)), name  # exact duplicates
            keys = [tuple(r.split(";")[i] for i in (0, 5)) for r in set(lines)]
            assert len(keys) > len(set(keys)), name  # PK duplicates


def _write_zone(path, table, parts=1):
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))


def test_medallion_check_catches_each_mismatch(tmp_path):
    import datetime as dt

    import pyarrow as pa

    wl = workloads.Medallion(str(tmp_path), seed=1)
    wl.expected = {"silver_rows": 4, "gold_rows": 3, "gold_undated": 1}
    t0 = dt.datetime(2025, 3, 1)
    gold = pa.table({
        "code_site": ["A", "B", "A"],
        "date_de_debut": [t0, t0, None],
        "v": [1.0, 2.0, 3.0],
    })
    wl.work = str(tmp_path / "w1")
    _write_zone(os.path.join(wl.work, "silver", "pollutant_code=01"), pa.table({"x": [1, 2, 3, 4]}), 2)
    _write_zone(os.path.join(wl.work, "gold"), gold, 2)
    assert wl.check(None) == []
    # same content in another row order and file split: same hash
    wl.work = str(tmp_path / "w2")
    _write_zone(os.path.join(wl.work, "silver"), pa.table({"x": [1, 2, 3, 4]}))
    _write_zone(os.path.join(wl.work, "gold"), gold.take([2, 0, 1]))
    assert wl.check(None) == []
    wl.work = str(tmp_path / "w3")
    _write_zone(os.path.join(wl.work, "silver"), pa.table({"x": [1, 2, 3]}))
    dup = gold.set_column(0, "code_site", pa.array(["A", "A", "A"]))
    _write_zone(os.path.join(wl.work, "gold"), dup)
    (err,) = wl.check(None)
    assert "silver rows 3 != 4" in err
    assert "not unique" in err
    assert "hash differs" in err


def _span(tr, name, start, end, parent=None, **counters):
    sp = spans.Span(len(tr.spans), name, parent, tr.run_id, start, end, counters)
    tr.spans.append(sp)
    return sp


def test_self_time_arithmetic():
    tr = spans.Tracer("t")
    root = _span(tr, "pass.timed", 0.0, 10.0)
    _span(tr, "pipeline.bronze", 0.5, 2.5, root.id)
    gold = _span(tr, "pipeline.gold", 3.0, 9.0, root.id)
    _span(tr, "exec.inner", 4.0, 5.0, gold.id)
    st = spans.self_times(tr.spans)
    assert st[root.id] == pytest.approx(2.0)
    assert st[gold.id] == pytest.approx(5.0)
    layers = spans.layer_self_time(tr.spans)
    assert layers == pytest.approx({"pass": 2.0, "pipeline": 7.0, "exec": 1.0})
    assert sum(layers.values()) == pytest.approx(root.dur)


def test_tracer_counts_only_when_asked():
    ticks = iter(range(100))
    tr = spans.Tracer("t", lambda: {"n": float(next(ticks))})
    with tr.span("a") as a:
        pass
    tr.counting = True
    with tr.span("b") as b:
        with tr.span("c"):
            pass
    assert a.counters == {}
    assert b.counters == {"n": 3.0}
    assert b.end >= b.start


def _benchmark() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def _fake_passes() -> tuple[spans.Tracer, list]:
    counters = {
        "jit_ms": 5.0, "gc_ms": 1.0, "code_cache_mb": 1.0,
        "codegen_compiles": 2.0, "codegen_ms": 3.0, "rules_ms": 4.0, "jobs": 3.0,
    }
    tr = spans.Tracer("t")
    passes = []
    for i, kind in enumerate(["cold", "warmup", "timed", "timed", "timed", "timed"]):
        counted = kind != "timed" or (i - 2) % 4 in (1, 2)
        sp = _span(tr, f"pass.{kind}", i * 10.0, i * 10.0 + 8.0, **(counters if counted else {}))
        ops = {}
        for j, q in enumerate(workloads.ANALYST_QUERIES):
            layer = "streaming" if workloads.ANALYST_QUERIES[q] == "maintenance" else "plans"
            b = _span(tr, f"{layer}.build.{q}", sp.start + j, sp.start + j + 0.4, sp.id, **counters)
            e = _span(tr, f"exec.{q}", b.end, b.end + 0.5, sp.id, **counters)
            ops[q] = b.dur + e.dur
        passes.append(
            run.Pass(kind, sp, 3.0 + i, ops, True, 1.0, counters, dict.fromkeys(
                ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes"), 1.0
            ), {"rdds": 0.0, "bytes": 0.0})
        )
    return tr, passes


def test_every_benchmark_metric_is_emitted_with_its_unit(tmp_path):
    bench = _benchmark()
    tr, passes = _fake_passes()
    e2e = run._end_to_end(1.0, passes)
    assert set(e2e) == {m["name"] for m in bench["end_to_end"]}
    assert all(v > 0 for v in e2e.values())
    for sub in ("tmp", "local"):
        os.makedirs(tmp_path / sub)
    layers = run._layer_metrics(
        tr, passes, 2.0, 1.0, {"code_cache_mb": 1.0}, 100.0, str(tmp_path), {}
    )
    assert set(layers) == {m["name"] for m in bench["per_layer"]}
    for section in ("end_to_end", "per_layer"):
        units = run._units(section)
        assert set(units) == {m["name"] for m in bench[section]}
        assert all(units.values())


def test_fake_pass_layer_arithmetic(tmp_path):
    tr, passes = _fake_passes()
    for sub in ("tmp", "local"):
        os.makedirs(tmp_path / sub)
    m = run._layer_metrics(
        tr, passes, 2.0, 1.0, {"code_cache_mb": 1.0}, 100.0, str(tmp_path), {}
    )
    n = len(workloads.ANALYST_QUERIES)
    assert m["plans.exec_s"] == pytest.approx(0.5 * n)
    assert m["trace.cover_ratio"] == pytest.approx(0.9 * n / 8.0)
    assert m["trace.overhead_s"] == pytest.approx(0.0)
    total = sum(m[f"self.{x}_s"] for x in ("pipeline", "plans", "streaming", "exec", "pass"))
    assert total == pytest.approx(8.0)


def test_benchmark_json_shape():
    bench = _benchmark()
    assert set(bench) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_quantile_is_nearest_rank():
    xs = [float(i) for i in range(1, 11)]
    assert run._quantile(xs, 0.9) == 9.0
    assert run._quantile(xs, 0.5) == 5.0
    assert run._quantile([3.0], 0.9) == 3.0


def test_pass_that_raised_is_left_out_of_warm_medians():
    _tr, passes = _fake_passes()
    passes[2].ok = False
    passes[2].cpu_s = 0.01  # a pass cut short reads cheap
    e2e = run._end_to_end(1.0, passes)
    assert e2e["warm_cpu_s"] == pytest.approx(statistics.median([6.0, 7.0, 8.0]))
