"""Independent expected outputs, computed with DuckDB over the same parquet.

Nothing here calls the engine. Each check of the suite is restated as
plain SQL over the generated files; TextEquals is restated as a
comparison of lower-cased, whitespace-collapsed texts against the clean
copy, which flags exactly the fixture's injected edits (`` MUTATED``,
`` [dup]``, ``EDIT_MARKER``) and none of the re-cased or re-spaced
rewrites. Partition ids come from the ``partmap`` file the generator
wrote, so expected rows are attributed to the engine's partitions.

A comparison returns a list of mismatch messages; an empty list means
the outputs are correct.
"""

from __future__ import annotations

import math
import os

import duckdb

# (check_id, violation predicate over one fact row) for the row-level part
# of default_transcript_checks()
ROW_CHECKS = [
    ("not_null_conv_id", "conv_id IS NULL"),
    ("not_null_text", "text IS NULL"),
    ("not_null_role", "role IS NULL"),
    ("not_null_ts", "ts IS NULL"),
    ("turn_idx_range", "turn_idx IS NOT NULL AND (turn_idx < 0 OR turn_idx > 100000)"),
    ("role_domain", "role IS NOT NULL AND role NOT IN ('user', 'assistant', 'tool')"),
]
COUNT_CHECKS = [c for c, _ in ROW_CHECKS] + [
    "unique_turn", "turn_order", "ref_conv", "ref_tool", "text_equals",
]
# t-digest KS against the exact KS: the engine's own test bound
# (tests/test_drift.py, 30k values) ...
KS_TOLERANCE = 0.02
# ... plus half the largest tie share on each side: a t-digest CDF puts a
# centroid's weight half below and half above its mean, where the exact
# ECDF steps by the full weight of the tied values


def _norm(col: str) -> str:
    return f"trim(regexp_replace(lower({col}), '\\s+', ' ', 'g'))"


def _sql_list(items) -> str:
    return ", ".join(str(int(i)) for i in items)


def _hive(path: str, where: str) -> str | None:
    """SQL reading a ``partitionBy(part_id)`` output directory, or None when
    the engine wrote no partition there."""
    if not os.path.isdir(path) or not any(d.startswith("part_id=") for d in os.listdir(path)):
        return None
    return (
        f"SELECT * REPLACE (CAST(part_id AS INTEGER) AS part_id) FROM "
        f"read_parquet('{path}/*/*.parquet', hive_partitioning = true) WHERE {where}"
    )


class Oracle:
    """Expected violations and verdicts for one fact input.

    ``fact_files`` maps a group number to parquet files: one group (0) for
    a batch table, one group per epoch file for a stream.
    """

    def __init__(self, table: str, fact_files: dict[int, list[str]], work: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute(f"SET temp_directory = '{work}/duckdb'")
        union = " UNION ALL ".join(
            f"SELECT {g} AS grp, * FROM read_parquet([{', '.join(repr(f) for f in files)}])"
            for g, files in sorted(fact_files.items())
        )
        c = self.con
        c.execute(f"CREATE TABLE pm AS SELECT * FROM read_parquet('{table}/partmap/*.parquet')")
        c.execute(f"CREATE TABLE f AS SELECT u.*, pm.part_id FROM ({union}) u JOIN pm USING (conv_id)")
        c.execute(f"CREATE TABLE clean AS SELECT c.*, pm.part_id FROM read_parquet('{table}/clean/*.parquet') c JOIN pm USING (conv_id)")
        c.execute(f"CREATE TABLE convs AS SELECT * FROM read_parquet('{table}/conversations/*.parquet')")
        c.execute(f"CREATE TABLE tools AS SELECT * FROM read_parquet('{table}/tools/*.parquet')")
        n_in = c.sql(f"SELECT count(*) FROM ({union})").fetchone()[0]
        n_f = c.sql("SELECT count(*) FROM f").fetchone()[0]
        if n_in != n_f:
            raise RuntimeError(f"partmap misses conversations: {n_in} input rows, {n_f} mapped")
        row = " UNION ALL ".join(
            f"SELECT grp, part_id, '{cid}' AS check_id, conv_id, turn_idx FROM f WHERE {pred}"
            for cid, pred in ROW_CHECKS
        )
        c.execute(f"""CREATE TABLE ev AS
            {row}
            UNION ALL
            SELECT grp, part_id, 'unique_turn', conv_id, turn_idx FROM f
              GROUP BY grp, part_id, conv_id, turn_idx HAVING count(*) > 1
            UNION ALL
            SELECT grp, part_id, 'turn_order', conv_id, turn_idx FROM (
              SELECT *, lag(turn_idx) OVER (PARTITION BY grp, conv_id ORDER BY turn_idx, ts) AS prev
              FROM f)
              WHERE CASE WHEN prev IS NULL THEN turn_idx <> 0 ELSE turn_idx <> prev + 1 END
            UNION ALL
            SELECT grp, part_id, 'ref_conv', conv_id, turn_idx FROM f
              WHERE conv_id IS NOT NULL
                AND conv_id NOT IN (SELECT conv_id FROM convs WHERE conv_id IS NOT NULL)
            UNION ALL
            SELECT grp, part_id, 'ref_tool', conv_id, turn_idx FROM f
              WHERE tool IS NOT NULL
                AND tool NOT IN (SELECT tool FROM tools WHERE tool IS NOT NULL)
            UNION ALL
            SELECT f.grp, f.part_id, 'text_equals', f.conv_id, f.turn_idx
              FROM f JOIN clean r ON f.conv_id = r.conv_id AND f.turn_idx = r.turn_idx
              WHERE f.text IS NOT NULL AND r.text IS NOT NULL
                AND {_norm('f.text')} <> {_norm('r.text')}
        """)
        checks = ", ".join(f"('{cid}')" for cid in COUNT_CHECKS)
        c.execute(f"""CREATE TABLE everd AS
            SELECT p.grp, p.part_id, k.check_id, p.n_rows,
                   coalesce(v.n, 0) AS n_violations, coalesce(v.n, 0) = 0 AS passed
            FROM (SELECT grp, part_id, count(*) AS n_rows FROM f GROUP BY ALL) p
            CROSS JOIN (VALUES {checks}) k(check_id)
            LEFT JOIN (SELECT grp, part_id, check_id, count(*) AS n FROM ev GROUP BY ALL) v
              USING (grp, part_id, check_id)
        """)

    # ------------------------------------------------------------ queries

    def parts(self, grp: int) -> list[int]:
        return [r[0] for r in self.con.sql(
            f"SELECT DISTINCT part_id FROM f WHERE grp = {grp} ORDER BY 1").fetchall()]

    def n_turns(self, grp: int, parts=None) -> int:
        where = f"grp = {grp}" + (f" AND part_id IN ({_sql_list(parts)})" if parts else "")
        return self.con.sql(f"SELECT count(*) FROM f WHERE {where}").fetchone()[0]

    def text_edit_rows(self, grp: int, parts) -> int:
        """Expected text_equals violations in ``parts`` (the injected edits)."""
        return self.con.sql(
            f"SELECT count(*) FROM ev WHERE grp = {grp} AND check_id = 'text_equals' "
            f"AND part_id IN ({_sql_list(parts)})").fetchone()[0]

    def raw_mismatch_rate(self, grp: int) -> float:
        """Share of turns whose raw text differs from the reference text."""
        return self.con.sql(f"""SELECT avg(CASE WHEN f.text IS DISTINCT FROM r.text THEN 1 ELSE 0 END)
            FROM f LEFT JOIN clean r ON f.conv_id = r.conv_id AND f.turn_idx = r.turn_idx
            WHERE f.grp = {grp}""").fetchone()[0]

    def _exact_ks(self, grp: int, parts: list[int]) -> dict[int, tuple[float, float]]:
        """Exact two-sample KS of text lengths, current vs clean, per
        partition and (key -1) over the union of ``parts``, each with the
        tolerance a t-digest estimate of it is held to."""
        plist = _sql_list(parts)
        rows = self.con.sql(f"""
            WITH a AS (SELECT part_id, length(text) AS v FROM clean
                       WHERE text IS NOT NULL AND part_id IN ({plist})),
                 b AS (SELECT part_id, length(text) AS v FROM f
                       WHERE grp = {grp} AND text IS NOT NULL AND part_id IN ({plist})),
                 ab AS (SELECT part_id, v, 1 AS ca, 0 AS cb FROM a
                        UNION ALL SELECT part_id, v, 0, 1 FROM b
                        UNION ALL SELECT -1, v, 1, 0 FROM a
                        UNION ALL SELECT -1, v, 0, 1 FROM b),
                 g AS (SELECT part_id, v, sum(ca) AS ca, sum(cb) AS cb FROM ab GROUP BY ALL),
                 cum AS (SELECT part_id,
                           sum(ca) OVER w / sum(ca) OVER (PARTITION BY part_id) AS fa,
                           sum(cb) OVER w / sum(cb) OVER (PARTITION BY part_id) AS fb,
                           max(ca) OVER p / sum(ca) OVER p AS tie_a,
                           max(cb) OVER p / sum(cb) OVER p AS tie_b
                         FROM g WINDOW w AS (PARTITION BY part_id ORDER BY v),
                                       p AS (PARTITION BY part_id))
            SELECT part_id, max(abs(fa - fb)), max(tie_a + tie_b) / 2 FROM cum GROUP BY part_id""").fetchall()
        return {int(p): (float(k), KS_TOLERANCE + float(t)) for p, k, t in rows}

    # ---------------------------------------------------------- comparisons

    def check_outputs(
        self, out_dir: str, grp: int, parts: list[int], drift: dict[str, tuple[str, str, float]]
    ) -> list[str]:
        """Compare the violations and verdicts a ValidationJob wrote under
        ``out_dir`` for ``parts`` with the expected ones.

        ``drift`` maps a Drift check id to (metric, method, threshold)."""
        errs: list[str] = []
        plist = _sql_list(parts)
        c = self.con
        act = _hive(f"{out_dir}/violations", f"part_id IN ({plist})")
        if act is None:
            errs.append("no violations written")
        else:
            errs += self._diff(
                "violation rows",
                f"SELECT part_id, check_id, conv_id, turn_idx FROM ({act})",
                f"SELECT part_id, check_id, conv_id, turn_idx FROM ev "
                f"WHERE grp = {grp} AND part_id IN ({plist})",
            )
        verd = _hive(f"{out_dir}/verdicts", f"part_id IN ({plist}) OR part_id = -1")
        if verd is None:
            return errs + ["no verdicts written"]
        count_ids = ", ".join(f"'{k}'" for k in COUNT_CHECKS)
        errs += self._diff(
            "count verdicts",
            f"SELECT part_id, check_id, n_rows, n_violations, passed FROM ({verd}) "
            f"WHERE check_id IN ({count_ids}) AND part_id <> -1",
            f"SELECT part_id, check_id, n_rows, n_violations, passed FROM everd "
            f"WHERE grp = {grp} AND part_id IN ({plist})",
        )
        ks = None
        for chk, (metric, method, threshold) in drift.items():
            rows = c.sql(f"SELECT part_id, n_rows, statistic, passed FROM ({verd}) "
                         f"WHERE check_id = '{chk}'").fetchall()
            got = {int(p): (n, s, ok) for p, n, s, ok in rows}
            if set(got) != set(parts) | {-1}:
                errs.append(f"{chk}: verdict partitions {sorted(got)} != {sorted(parts)} + [-1]")
                continue
            if metric == "text_length":
                n_exp = dict(c.sql(f"SELECT part_id, count(*) FROM f WHERE grp = {grp} "
                                   f"AND text IS NOT NULL GROUP BY 1").fetchall())
            else:
                n_exp = dict(c.sql(f"SELECT part_id, count(DISTINCT conv_id) FROM f "
                                   f"WHERE grp = {grp} GROUP BY 1").fetchall())
            n_exp[-1] = sum(n_exp.get(p, 0) for p in parts)
            for p, (n, stat, ok) in got.items():
                if n != n_exp.get(p, 0):
                    errs.append(f"{chk} part {p}: n={n}, expected {n_exp.get(p, 0)}")
                if stat is None or not math.isfinite(stat) or stat < 0:
                    errs.append(f"{chk} part {p}: statistic {stat}")
                    continue
                if ok != (stat <= threshold):
                    errs.append(f"{chk} part {p}: passed={ok} with statistic {stat}")
            if metric == "text_length" and method == "ks":
                ks = ks if ks is not None else self._exact_ks(grp, parts)
                for p, (exact, tol) in ks.items():
                    if abs(got[p][1] - exact) > tol:
                        errs.append(f"{chk} part {p}: KS {got[p][1]:.4f}, exact {exact:.4f} (tolerance {tol:.4f})")
        return errs

    def _diff(self, what: str, actual: str, expected: str) -> list[str]:
        """Multiset difference of two queries, both ways."""
        errs = []
        for name, x, y in (("unexpected", actual, expected), ("missing", expected, actual)):
            q = f"SELECT * FROM ({x}) EXCEPT ALL SELECT * FROM ({y})"
            n = self.con.sql(f"SELECT count(*) FROM ({q})").fetchone()[0]
            if n:
                errs.append(f"{n} {name} {what}, e.g. {self.con.sql(q).limit(3).fetchall()}")
        return errs

    def check_manifest_rows(
        self, manifest_dir: str, run_id: str, grp: int, parts: list[int], n_drift: int
    ) -> list[str]:
        """Manifest rows of one run: exactly ``parts``, each with the expected
        row and violation totals."""
        c = self.con
        got = c.sql(
            f"SELECT part_id, n_rows, n_violations, n_checks_failed FROM "
            f"read_parquet('{manifest_dir}/*.parquet') WHERE run_id = '{run_id}'").fetchall()
        exp = {
            int(p): (n, v, failed) for p, n, v, failed in c.sql(f"""
                SELECT part_id, max(n_rows), sum(n_violations), sum(CASE WHEN passed THEN 0 ELSE 1 END)
                FROM everd WHERE grp = {grp} GROUP BY part_id""").fetchall()
        }
        errs = []
        if sorted(p for p, *_ in got) != sorted(parts):
            errs.append(f"{run_id}: manifest parts {sorted(p for p, *_ in got)} != {sorted(parts)}")
        for p, n, v, failed in got:
            en, ev, efailed = exp.get(int(p), (0, 0, 0))
            # drift verdicts may add failed checks on top of the count checks
            if (n, v) != (en, ev) or not efailed <= failed <= efailed + n_drift:
                errs.append(f"{run_id} part {p}: manifest ({n}, {v}, {failed}) vs expected ({en}, {ev}, {efailed})")
        return errs

    def manifest_rows(self, manifest_dir: str) -> int:
        return self.con.sql(f"SELECT count(*) FROM read_parquet('{manifest_dir}/*.parquet')").fetchone()[0]

    def close(self) -> None:
        self.con.close()
