"""The analytical lane of the serving reads: the CDC lane's headline
queries (SCD2 build, latest row per key) over a seeded `events` table.
Each query goes to the noop sink; the first sweep of a run is checked
against the query's DuckDB oracle.
"""

from __future__ import annotations

import os
import time

import star_data

QUERY_SET = ["scd2_build", "latest_per_key"]


class QuerySweep:
    def __init__(self, spark, work: str, seed: int, sf: float):
        self.spark = spark
        self.dir = os.path.join(work, "star")
        self.seed = seed
        self.sf = sf
        self.checked = False

    def generate(self) -> None:
        star_data.generate(self.dir, self.sf, self.seed)

    def sweep(self, tr) -> dict[str, float]:
        """Run every query once; returns wall seconds per query."""
        from hybrid_data_lakehouse_lab_spark.plans import QUERIES

        out = {}
        for name in QUERY_SET:
            with tr.span("plans.query", query=name):
                t0 = time.perf_counter()
                with tr.span("plans.build"):
                    df = QUERIES[name](self.spark, self.dir)
                if tr.enabled:
                    with tr.span("plans.catalyst"):
                        tr.count("plans.catalyst_ms", catalyst_ms(df))
                with tr.span("plans.exec"):
                    df.write.format("noop").mode("overwrite").save()
                out[name] = time.perf_counter() - t0
            tr.count(f"plans.{name}.wall_s", out[name])
        return out

    def check(self) -> str | None:
        """Every query against its DuckDB oracle, once per run."""
        if self.checked:
            return None
        import duckdb

        from hybrid_data_lakehouse_lab_spark.plans import ORACLES, QUERIES
        from hybrid_data_lakehouse_lab_spark.testing.compare import frames_equal

        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{self.dir}/events.parquet'")
        for name in QUERY_SET:
            got = QUERIES[name](self.spark, self.dir).toPandas()
            want = con.execute(ORACLES[name]).fetchdf()
            ok, why = frames_equal(got, want)
            if not ok:
                return f"{name} differs from its oracle: {why}"
            if len(got) == 0:
                return f"{name} returned no rows"
        self.checked = True
        return None


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of the query's plan, from
    the Catalyst phase tracker (forces the physical plan)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0
    for p in ("parsing", "analysis", "optimization", "planning"):
        opt = phases.get(p)
        if opt.isDefined():
            total += opt.get().durationMs()
    return float(total)
