"""``analytics`` workload: the query set ``bench.py`` times, no table commit.

The set is ``bench.ANALYTICS_QUERIES`` with ``bench.BENCH_QUERY_OVERRIDES``
(imported, so it cannot drift from ``bench.py``), run over seeded tables
from ``sfgen`` and written to the ``noop`` sink. This is the bypass
workload for apply-path changes: ``functions.*``, ``operators.*`` and
``__spark_entry__`` do all the work.

The correctness pass runs first and doubles as the JIT warm-up: every query
that has a DuckDB oracle (``oracle_sql()`` or ``EXTRA_ORACLES``) is
collected and compared with it. Where ``bench.py`` times an override, the
gated query of the same name is the one with an oracle; it is checked, and
the timed override is run once too, so the timed pass starts warm.
"""

from __future__ import annotations

import importlib.util
import os
from concurrent.futures import ThreadPoolExecutor

from checks import CheckLog, oracle_rows_match
import sfgen


def load_oracle_module(repo_root: str):
    """``scripts/check_oracles.py`` holds the repository's gate semantics
    (cell normalisation, float tolerances) and the oracles for queries
    outside the 50-slot gate."""
    path = os.path.join(repo_root, "scripts", "check_oracles.py")
    spec = importlib.util.spec_from_file_location("check_oracles", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class AnalyticsWorkload:
    name = "analytics"
    check_first = True  # the correctness pass is also the warm-up

    def __init__(self, spark, work: str, seed: int, params: dict, tracer,
                 ops, checks: CheckLog, repo_root: str):
        import bench
        import __spark_entry__ as entry_mod

        self.spark = spark
        self.work = work
        self.seed = seed
        self.p = params
        self.tracer = tracer
        self.ops = ops
        self.checks = checks
        self.names = list(bench.ANALYTICS_QUERIES)
        self.oracle_mod = load_oracle_module(repo_root)
        gated = dict(entry_mod.queries())
        gated.update(self.oracle_mod.EXTRA_QUERIES)
        self.gated = gated
        self.timed_fns = {n: bench.BENCH_QUERY_OVERRIDES.get(n) or gated[n]
                          for n in self.names}
        self.oracles = dict(entry_mod.oracle_sql())
        self.oracles.update(self.oracle_mod.EXTRA_ORACLES)
        missing = [n for n in self.names if n not in self.oracles]
        if missing:
            raise RuntimeError(f"queries without an oracle: {missing}")

    # ------------------------------------------------------------ set-up
    def generate_inputs(self) -> None:
        self.sf_dir = os.path.join(self.work, "sf")
        sfgen.write_tables(self.sf_dir, self.seed, self.p["sf"])

    def build_base(self) -> None:
        """Row counts the banding auto-sizers need, outside the timed pass
        (``bench.py`` does the same through each override's ``prepare``)."""
        for fn in self.timed_fns.values():
            prepare = getattr(fn, "prepare", None)
            if prepare is not None:
                prepare(self.spark, self.sf_dir)

    # ------------------------------------------------------------ checks
    def check(self) -> None:
        """Collect every gated query and compare it with DuckDB; run each
        timed override once. Queries run on a few driver threads: they are
        small, and their walls here are not measured."""
        import duckdb

        con = duckdb.connect()
        for t in sfgen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.sf_dir}/{t}.parquet'")

        def collect(name: str):
            return self.gated[name](self.spark, self.sf_dir).toPandas()

        def warm(name: str) -> int:
            return self.timed_fns[name](self.spark, self.sf_dir).count()

        overrides = [n for n in self.names if self.timed_fns[n] is not self.gated[n]]
        with ThreadPoolExecutor(max_workers=self.p["check_threads"]) as pool:
            outs = {n: pool.submit(collect, n) for n in self.names}
            warms = {n: pool.submit(warm, n) for n in overrides}
            for n in self.names:
                try:
                    got = outs[n].result()
                except Exception as e:  # a query that raises fails its check
                    self.checks.expect(f"oracle:{n}", False, repr(e))
                    continue
                ok, detail = oracle_rows_match(got, con.execute(self.oracles[n]).fetchdf(),
                                               n, self.oracle_mod)
                self.checks.expect(f"oracle:{n}", ok, detail)
            for n, fut in warms.items():
                rows = fut.result()
                self.checks.expect(f"timed_variant_nonempty:{n}", rows > 0,
                                   f"{rows} rows")
        con.close()

    # ------------------------------------------------------------ cycles
    def cycle(self, c: int) -> float:
        import time

        t0 = time.perf_counter()
        self.tracer.set_trace(f"pass{c}")
        for n in self.names:
            with self.ops.timed(n):
                with self.tracer.span(f"entry.{n}"):
                    self.timed_fns[n](self.spark, self.sf_dir) \
                        .write.format("noop").mode("overwrite").save()
        self.tracer.set_trace(None)
        return time.perf_counter() - t0

    def finish(self) -> None:
        pass
