"""The benchmark workloads: one pass of each, plus its correctness checks.

A pass calls only the program's public functions: the pipeline's
``build_bronze``/``build_silver``/``build_gold`` and the registry's
``QUERIES[name].spark`` followed by a noop write. Each call runs inside a
span whose name starts with the layer it enters (``pipeline``, ``plans``,
``streaming``, ``exec``).
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil

import gen

# medallion_refresh: landing-zone size. 24 sites x 6 days x 23 hours over
# four pollutants (3.25 site pools) is ~11k CSV rows.
MEDALLION_SITES = 24
MEDALLION_DAYS = 6

# analyst_mix: table scale and the query set, one query per family.
ANALYST_SF = 0.01
ANALYST_QUERIES = {
    "tpch_q3_shipping_priority": "relational",
    "sessionization": "temporal",
    "cdc_merge_apply": "merge",
    "streaming_heavy_hitters_cms": "maintenance",
}


class Workload:
    """What the runner calls, in order: ``setup`` once, then per pass
    ``run_pass``, ``check``, ``zone_stats`` (traced runs) and ``end_pass``."""

    name: str
    ops_per_pass: int  # operations a pass attempts, also when one raises

    def setup(self) -> None:
        raise NotImplementedError

    def run_pass(self, spark, tracer, pass_no: int, check: bool) -> dict[str, float]:
        """Run pass ``pass_no``; return wall seconds per operation. With
        ``check`` the pass is the run's correctness pass: a workload whose
        check needs the engine's results collected does it in this pass,
        which is untimed. Other workloads check every pass in ``check``."""
        raise NotImplementedError

    def check(self, spark) -> list[str]:
        """Failures of the last pass, one entry per failed operation."""
        raise NotImplementedError

    def zone_stats(self) -> dict[str, float]:
        """Per-layer figures of what the last pass wrote."""
        return {}

    def end_pass(self) -> None:
        pass


class Medallion(Workload):
    """bronze -> silver -> gold over a seeded landing zone, each pass into a
    fresh work dir, as the DAG and ``cli run-pipeline`` run it."""

    name = "medallion_refresh"
    ops_per_pass = 3

    def __init__(self, root: str, seed: int) -> None:
        self.root = root
        self.seed = seed
        self.landing = os.path.join(root, "landing")
        self.expected = gen.expected_counts(MEDALLION_SITES, MEDALLION_DAYS, seed)
        self.gold_hash = None
        self._n = 0

    def setup(self) -> None:
        """Write the landing zone and import the pipeline."""
        gen.gen_landing(self.landing, MEDALLION_SITES, MEDALLION_DAYS, self.seed)
        import datalakes_and_data_integration_spark.pipeline  # noqa: F401

    def run_pass(self, spark, tracer, pass_no: int, check: bool) -> dict[str, float]:
        """One refresh."""
        from datalakes_and_data_integration_spark.pipeline import (
            build_bronze,
            build_gold,
            build_silver,
        )

        self._n += 1
        self.work = os.path.join(self.root, f"work{self._n}")
        w = self.work
        durs = {}
        with tracer.span("pipeline.bronze") as sp:
            build_bronze(spark, self.landing, f"{w}/bronze")
        durs[sp.name] = sp.dur
        with tracer.span("pipeline.silver") as sp:
            build_silver(spark, f"{w}/bronze", f"{w}/silver")
        durs[sp.name] = sp.dur
        with tracer.span("pipeline.gold") as sp:
            build_gold(spark, f"{w}/silver", f"{w}/gold")
        durs[sp.name] = sp.dur
        return durs

    def check(self, spark) -> list[str]:
        """Counts against the generator's formula, unique gold keys, and a
        gold content hash equal to the first pass's. A pass with any
        mismatch is one failed operation. The zones are read with pyarrow,
        so checking adds no work to the engine under test."""
        import pyarrow.parquet as pq

        errors = []
        silver = _parquet_rows(os.path.join(self.work, "silver"))
        if silver != self.expected["silver_rows"]:
            errors.append(f"silver rows {silver} != {self.expected['silver_rows']}")
        gold = pq.read_table(os.path.join(self.work, "gold")).to_pylist()
        dated = [(r["code_site"], r["date_de_debut"]) for r in gold if r["date_de_debut"]]
        undated = len(gold) - len(dated)
        if len(gold) != self.expected["gold_rows"]:
            errors.append(f"gold rows {len(gold)} != {self.expected['gold_rows']}")
        if undated != self.expected["gold_undated"]:
            errors.append(f"gold undated rows {undated} != {self.expected['gold_undated']}")
        if len(set(dated)) != len(dated):
            errors.append("gold (code_site, date_de_debut) keys are not unique")
        digest = hashlib.sha256(
            "\n".join(sorted(repr(sorted(r.items())) for r in gold)).encode()
        ).hexdigest()
        if self.gold_hash is None:
            self.gold_hash = digest
        elif digest != self.gold_hash:
            errors.append("gold content hash differs from the first pass")
        return ["; ".join(errors)] if errors else []

    def zone_stats(self) -> dict[str, float]:
        """Bytes and files each stage wrote in the last pass, and silver's
        rows kept per bronze row."""
        out = {}
        for stage in ("bronze", "silver", "gold"):
            nbytes, nfiles = dir_size(os.path.join(self.work, stage), "part-")
            out[f"pipeline.{stage}.bytes_out"] = float(nbytes)
            out[f"pipeline.{stage}.files_out"] = float(nfiles)
        out["pipeline.silver.keep_ratio"] = _parquet_rows(
            os.path.join(self.work, "silver")
        ) / _parquet_rows(os.path.join(self.work, "bronze"))
        return out

    def end_pass(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


class Analyst(Workload):
    """A fixed set of registry queries through the noop sink; the seed
    permutes their order within each pass."""

    name = "analyst_mix"
    ops_per_pass = len(ANALYST_QUERIES)

    def __init__(self, root: str, seed: int) -> None:
        self.root = root
        self.seed = seed
        self.data = os.path.join(root, "tables")
        self.errors: list[str] = []

    def setup(self) -> None:
        """Write the tables and import the query registry and the
        correctness checker's entry module. That module creates a cache dir
        under ``~`` at import, so ``~`` points into the run dir meanwhile."""
        gen.gen_tables(self.data, ANALYST_SF, self.seed)
        home = os.environ.get("HOME")
        os.environ["HOME"] = self.root
        try:
            import __spark_entry__  # noqa: F401
        finally:
            if home is None:
                del os.environ["HOME"]
            else:
                os.environ["HOME"] = home

    def order(self, pass_no: int) -> list[str]:
        names = sorted(ANALYST_QUERIES)
        random.Random(self.seed * 1000 + pass_no).shuffle(names)
        return names

    def run_pass(self, spark, tracer, pass_no: int, check: bool) -> dict[str, float]:
        """Every query once, in the seed's order for this pass. With
        ``check`` the sink is the correctness check, which collects the
        result and compares it with the DuckDB oracle, instead of noop."""
        import check_correctness as cc

        from datalakes_and_data_integration_spark import plans

        con = cc.duck_connect(self.data) if check else None
        durs = {}
        try:
            for name in self.order(pass_no):
                layer = "streaming" if ANALYST_QUERIES[name] == "maintenance" else "plans"
                parts = []
                try:
                    with tracer.span(f"{layer}.build.{name}") as sp:
                        parts.append(sp)
                        df = plans.QUERIES[name].spark(spark, self.data)
                    with tracer.span(f"exec.{name}") as sp:
                        parts.append(sp)
                        if check:
                            ok, msg = cc.compare(name, df, con)
                        else:
                            df.write.format("noop").mode("overwrite").save()
                            ok, msg = True, ""
                except Exception as exc:  # one failed op; the pass goes on
                    ok, msg = False, f"{type(exc).__name__}: {exc}"
                if not ok:
                    self.errors.append(f"{name}: {msg.splitlines()[0]}")
                durs[name] = sum(s.dur for s in parts)
        finally:
            if con is not None:
                con.close()
        return durs

    def check(self, spark) -> list[str]:
        """Failures seen since the last call: exceptions, and mismatches
        in the pass that checked (row count only where the registry has
        no oracle)."""
        errors, self.errors = self.errors, []
        return errors


WORKLOADS = {w.name: w for w in (Medallion, Analyst)}


def _parquet_rows(path: str) -> int:
    """Rows in the parquet part files under ``path``, from their footers."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(d, f)).num_rows
        for d, _dirs, files in os.walk(path)
        for f in files
        if f.startswith("part-")
    )


def dir_size(path: str, prefix: str = "") -> tuple[int, int]:
    """Bytes and count of the files under ``path`` whose names start with
    ``prefix``."""
    nbytes = nfiles = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(prefix):
                nbytes += os.path.getsize(os.path.join(dirpath, f))
                nfiles += 1
    return nbytes, nfiles
