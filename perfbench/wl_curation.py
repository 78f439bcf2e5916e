"""``curation``: batch curation rows, each fully materialized.

One cycle builds every row through the ``__spark_entry__`` registry and
materializes all of its columns with ``write.format("noop")`` (no driver
transfer, no column pruning). The untimed warm-up pass collects the rows
instead; those are the rows checked. The rows read a seeded ``documents``/
``events`` store written by ``datagen`` (sf0.01: 10k events, 500 docs).

Rows with a registry oracle are checked against ``oracle_sql()`` in
DuckDB. ``op_dup_spans`` and ``op_pagerank`` have no oracle; they are
checked against DuckDB-derived invariants (per-doc token counts and
exact-copy docs; the node set and the rank mass).
"""

from __future__ import annotations

import os

import datagen

SF = 0.01
# timed name -> registry name of its oracle (None: invariant check)
ROWS = {
    "dedup_minhash_pairs_v3": "dedup_minhash_pairs",
    "op_dup_spans": None,
    "op_pagerank": None,
}
CYCLES = 3
TABLES = ["events", "documents"]


def registry() -> dict:
    import __spark_entry__ as entry

    fns = {**entry.queries(), **entry.BENCH_COMPAT}
    for name, oracle in ROWS.items():
        # the oracle must describe exactly the function that is timed
        if oracle is not None and fns[name] is not entry.queries()[oracle]:
            raise RuntimeError(f"{name} is not the registry row {oracle}")
    return {name: fns[name] for name in ROWS}


class Curation:
    sf = SF

    def __init__(self, h, data_dir: str):
        self.h, self.data = h, data_dir
        self.rows: dict = {}  # name -> (columns, rows) of the warm-up pass

    def generate(self) -> None:
        datagen.write({"events": datagen.events(self.h.seed, int(1_000_000 * self.sf)),
                       "documents": datagen.documents(self.h.seed, int(50_000 * self.sf))},
                      self.data)

    def stage(self, h) -> None:
        from zx_spark.storage import register_views

        with h.setup_part("storage.views"):
            register_views(h.spark, self.data, tables=TABLES)

    def run(self) -> tuple[float, float]:
        self.fns = registry()
        self.h.setup(self.stage)
        return self.h.run_cycles(self.cycle, min_cycles=CYCLES)

    def cycle(self, k: int) -> None:
        h = self.h
        for name in ROWS:  # fixed order; the seed only changes the inputs
            with h.op(name) as rec:
                with h.span("operators.build"):
                    df = self.fns[name](h.spark, self.data)
                if h.traced:
                    rec["eager_jobs"] = h.jobs()
                    with h.span("spark.plan"):
                        df._jdf.queryExecution().executedPlan()
                if h.warming:  # the untimed pass collects the rows that verify() checks
                    self.rows[name] = (df.columns, [tuple(r) for r in df.collect()])
                    continue
                with h.span("spark.exec"):
                    df.write.format("noop").mode("overwrite").save()

    def layer_metrics(self, window) -> dict:
        return {}

    def verify(self) -> None:
        import __spark_entry__ as entry

        from checks import duck, same_rows

        con = duck(self.data, TABLES)
        # data-derived oracles (model literals) read the same store
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.data
        oracles = entry.oracle_sql()
        bad = set()
        for name, (cols, rows) in self.rows.items():
            if ROWS[name] is not None:
                cur = con.execute(oracles[ROWS[name]])
                problem = same_rows(cols, rows, [d[0] for d in cur.description], cur.fetchall())
            else:
                problem = getattr(self, f"_check_{name}")(cols, rows, con)
            if problem:
                bad.add(name)
                self.h.failures.append(f"{name}: {problem}")
        for rec in self.h.ops:
            if rec["kind"] in bad:
                rec["ok"] = False

    @staticmethod
    def _check_op_dup_spans(cols, rows, con) -> str | None:
        got = {r[cols.index("doc_id")]: r for r in rows}
        want = dict(con.execute(
            "SELECT doc_id, len(string_split(text, ' ')) FROM documents").fetchall())
        if got.keys() != want.keys():
            return f"{len(got)} docs, expected {len(want)}"
        i_tok, i_dup = cols.index("n_tokens"), cols.index("dup_tokens")
        if any(got[d][i_tok] != n or not 0 <= got[d][i_dup] <= n for d, n in want.items()):
            return "token counts differ"
        copies = [d for (d,) in con.execute(
            "SELECT doc_id FROM documents WHERE text IN (SELECT text FROM documents "
            "GROUP BY text HAVING count(*) > 1) AND len(string_split(text, ' ')) >= 8"
        ).fetchall()]
        if any(got[d][cols.index("dup_fraction")] != 1.0 for d in copies):
            return "an exact-copy doc is not fully duplicated"
        return None

    @staticmethod
    def _check_op_pagerank(cols, rows, con) -> str | None:
        want = {n for (n,) in con.execute(
            "SELECT DISTINCT CAST(user_id AS VARCHAR) FROM events WHERE user_id IS NOT NULL "
            "AND event_type IS NOT NULL UNION SELECT DISTINCT 'et:' || event_type FROM events "
            "WHERE user_id IS NOT NULL AND event_type IS NOT NULL").fetchall()}
        got = {r[cols.index("node")] for r in rows}
        if got != want or len(rows) != len(want):
            return f"{len(got)} nodes, expected {len(want)}"
        mass = sum(r[cols.index("rank")] for r in rows)
        if abs(mass - 1.0) > 1e-6:
            return f"rank mass {mass}"
        return None
