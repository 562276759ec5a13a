"""Independent expected values, computed by DuckDB over the same
generated parquet the engine reads. Nothing here imports
``validate_spark``: each rule's semantics is restated in SQL (NULL and
'' are "empty"; every validator except ``required`` skips empty values;
a ``required`` wildcard fails on an empty parent array).
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys

import duckdb

# the flagship interleaved-table rules, plus one (spans maxLength:3) that
# fails every doc with more than three spans, so about half the rows
# are quarantined
AUDIT_RULES = {
    "doc_id": "required|minLength:5",
    "spans": "required|minLength:1|maxLength:3",
    "spans.*.kind": "required|enum:text,image,audio,video",
    "spans.*.offset": "min:0",
    "spans.*.media_ref": "regexp:^m-[0-9]{8}$",
}


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def split_rules(rules: dict[str, str]) -> list[tuple[str, str, list[str]]]:
    """``{"f": "a|b:x,y"}`` -> ``[("f", "a", []), ("f", "b", ["x", "y"])]``
    in declaration order."""
    out = []
    for field, spec in rules.items():
        for seg in spec.split("|"):
            name, _, arg = seg.partition(":")
            out.append((field, name, arg.split(",") if arg else []))
    return out


def _nonempty(v: str) -> str:
    return f"({v} IS NOT NULL AND {v} <> '')"


def _scalar_fail(v: str, name: str, args: list[str]) -> str:
    """SQL boolean: the value ``v`` fails validator ``name``."""
    if name == "required":
        return f"NOT {_nonempty(v)}"
    if name == "min":  # numeric: only NULL is empty
        return f"({v} IS NOT NULL AND NOT ({v} >= {int(args[0])}))"
    if name == "minLength":
        pred = f"octet_length(encode({v})) >= {int(args[0])}"
    elif name == "maxLength":
        pred = f"octet_length(encode({v})) <= {int(args[0])}"
    elif name == "enum":
        pred = f"{v} IN ({', '.join(_q(a) for a in args)})"
    elif name == "regexp":
        pred = f"regexp_matches({v}, {_q(args[0])})"
    elif name == "isEmail":
        pred = f"regexp_full_match({v}, '[^@\\s]+@([A-Za-z0-9-]+\\.)+[A-Za-z]{{2,}}')"
    elif name == "isDate":
        pred = f"TRY_CAST({v} AS DATE) IS NOT NULL"
    elif name == "afterDate":
        pred = f"coalesce(TRY_CAST({v} AS DATE) > DATE {_q(args[0])}, false)"
    elif name == "eqField":
        pred = f"{v} = {args[0]}"
    else:
        raise ValueError(f"oracle has no rule for validator {name!r}")
    return f"({_nonempty(v)} AND NOT ({pred}))"


def _spans_fail(field: str, name: str, args: list[str]) -> str:
    if field == "doc_id":
        return _scalar_fail("doc_id", name, args)
    if field == "spans":
        if name == "required":
            return "(spans IS NULL OR len(spans) = 0)"
        if name in ("minLength", "maxLength"):
            op = "<" if name == "minLength" else ">"
            return f"(len(spans) > 0 AND len(spans) {op} {int(args[0])})"
    leaf = field.split(".*.")[1]
    if name == "required":
        return (
            "(spans IS NULL OR len(spans) = 0 OR "
            f"len(list_filter(spans, s -> s.{leaf} IS NULL OR s.{leaf} = '')) > 0)"
        )
    elem = _scalar_fail(f"s.{leaf}", name, args)
    return f"(len(list_filter(spans, s -> coalesce({elem}, false))) > 0)"


class Oracle:
    def __init__(self, workdir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = {_q(workdir)}")
        self.con.execute("SET threads = 2")

    def close(self) -> None:
        self.con.close()

    # --- corpus_audit / quarantine_write ---------------------------------

    def spans_rule_counts(self, docs: str, rules: dict[str, str]) -> dict:
        """Per-rule failing-row counts plus pass/fail row counts."""
        parts = split_rules(rules)
        exprs = [f"coalesce({_spans_fail(f, n, a)}, false)" for f, n, a in parts]
        any_fail = " OR ".join(exprs)
        row = self.con.execute(
            f"SELECT count(*), count_if({any_fail}), "
            + ", ".join(f"count_if({e})" for e in exprs)
            + f" FROM read_parquet({_q(docs + '/*.parquet')})"
        ).fetchone()
        return {
            "rows": row[0],
            "fail_rows": row[1],
            "rules": {(f, n): c for (f, n, _), c in zip(parts, row[2:])},
        }

    def corpus_checks(self, docs: str, catalog: str) -> dict:
        src = f"read_parquet({_q(docs + '/*.parquet')})"
        dup = self.con.execute(
            f"SELECT count(*) FROM (SELECT doc_id FROM {src} WHERE doc_id IS NOT NULL "
            "GROUP BY doc_id HAVING count(*) > 1)"
        ).fetchone()[0]
        dangling = self.con.execute(
            f"SELECT count(*) FROM (SELECT unnest(list_transform(spans, s -> s.media_ref)) AS r "
            f"FROM {src}) WHERE r IS NOT NULL AND r NOT IN "
            f"(SELECT ref FROM read_parquet({_q(catalog + '/*.parquet')}))"
        ).fetchone()[0]
        hist = dict(self.con.execute(
            f"SELECT least(len(spans), 63), count(*) FROM {src} GROUP BY 1"
        ).fetchall())
        return {"dup_keys": dup, "dangling": dangling, "histogram": hist}

    def routed_counts(self, routed: str) -> dict:
        rows = self.con.execute(
            f"SELECT verdict, count(*) FROM read_parquet({_q(routed + '/*/*.parquet')}, "
            "hive_partitioning = true) GROUP BY verdict"
        ).fetchall()
        return {str(v).lower() == "true": c for v, c in rows}

    def violation_counts(self, path: str) -> dict:
        rows = self.con.execute(
            f"SELECT field, validator, count(*) FROM read_parquet({_q(path + '/*.parquet')}) "
            "GROUP BY field, validator"
        ).fetchall()
        return {(f, v): c for f, v, c in rows}

    # --- rule_iteration ---------------------------------------------------

    def request_counts(self, table: str, rules: dict, filters: dict) -> set:
        """``{(field, validator, n)}`` with n > 0 for one request."""
        cols = {f: f for f in rules}
        for f, chain in filters.items():
            expr = f
            for flt in chain.split("|"):
                expr = {"trim": f"trim({expr})", "upper": f"upper({expr})"}[flt]
            cols[f] = expr
        parts = split_rules(rules)
        exprs = [f"coalesce({_scalar_fail(cols[f], n, a)}, false)" for f, n, a in parts]
        row = self.con.execute(
            "SELECT " + ", ".join(f"count_if({e})" for e in exprs)
            + f" FROM read_parquet({_q(table + '/*.parquet')})"
        ).fetchone()
        return {(f, n, c) for (f, n, _), c in zip(parts, row) if c > 0}

    # --- neardup_dedup ----------------------------------------------------

    def pair_jaccards(self, corpus: str, pairs: list[tuple[str, str]]) -> list[float]:
        """Exact 5-char-shingle Jaccard of each pair over the normalized
        text (lower-case, non-alphanumeric runs to one space, trimmed)."""
        if not pairs:
            return []
        import pandas as pd

        self.con.register("emitted", pd.DataFrame(pairs, columns=["a", "b"]))
        try:
            rows = self.con.execute(
                f"""
                WITH t AS (
                  SELECT doc_id AS k,
                         trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g')) AS t
                  FROM read_parquet({_q(corpus + '/*.parquet')})
                ), s AS (
                  SELECT k, list_distinct(list_transform(
                           generate_series(1, greatest(length(t) - 4, 1)),
                           i -> substring(t, i, 5))) AS sh
                  FROM t
                )
                SELECT len(list_intersect(x.sh, y.sh))::double
                       / len(list_distinct(x.sh || y.sh))::double
                FROM emitted e JOIN s x ON x.k = e.a JOIN s y ON y.k = e.b
                """
            ).fetchall()
        finally:
            self.con.unregister("emitted")
        return [r[0] for r in rows] if len(rows) == len(pairs) else []



def _serve(workdir: str) -> None:
    """Answer pickled ``(method, args)`` requests on stdin until EOF or
    ``None``. Replies go to the original stdout, which is kept for them
    alone (anything else printed goes to stderr)."""
    replies = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)
    requests = sys.stdin.buffer
    oracle = Oracle(workdir)
    try:
        while True:
            try:
                msg = pickle.load(requests)
            except EOFError:
                break
            if msg is None:
                break
            name, args = msg
            try:
                reply = (True, getattr(oracle, name)(*args))
            except Exception as e:  # the caller counts the op as failed
                reply = (False, f"{type(e).__name__}: {e}")
            pickle.dump(reply, replies)
            replies.flush()
    finally:
        oracle.close()


class OracleProcess:
    """An ``Oracle`` in a child process, so that DuckDB's threads and
    memory stay out of the measured process tree. Its methods are
    called as on ``Oracle``."""

    def __init__(self, workdir: str):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), workdir],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )

    def __getattr__(self, name: str):
        if name.startswith("_"):
            raise AttributeError(name)

        def call(*args):
            pickle.dump((name, args), self.proc.stdin)
            self.proc.stdin.flush()
            ok, value = pickle.load(self.proc.stdout)
            if not ok:
                raise RuntimeError(f"oracle.{name}: {value}")
            return value

        return call

    def close(self) -> None:
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


if __name__ == "__main__":
    _serve(sys.argv[1])
