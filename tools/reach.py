"""Call-trace reachability of every function in ``validate_spark/`` and
``__spark_entry__.py`` from the production callers.

    python tools/reach.py [--out REACH.json]

Runs, in this one process and under a ``sys.setprofile`` hook that sees
call and return events only (coverage.py is not a dependency):

* phase ``queries``: ``entry(spark)`` collected, then
  ``tools/check_oracle.py`` (every ``__spark_entry__`` query at sf0.01
  against its DuckDB oracle) via ``runpy``;
* phase ``perfbench``: ``perfbench/run.py --size smoke --seconds 0`` for
  each workload via ``runpy``.

Neither script is edited; each runs as its command line would run it.
For each function the output gives ``reached_by`` (``queries``,
``perfbench``, ``queries+perfbench`` or ``none``), call counts, the
lines of the ``return`` statements taken, the values seen for every
parameter whose default is a literal (a value is its repr for literals,
``<TypeName>`` otherwise), and its lexical references: NAME tokens equal
to the function's name outside its own definition, outside ``tests/``
(comments and strings do not count). A function is a deletion
candidate when it is unreached AND has no such reference. ``PROBES``
adds ``cases``: a per-call summary of arguments for branches that
depend on more than one literal option (``__spark_entry__._rows_df``).

Blind spots: pandas-UDF and ``mapInPandas`` bodies run in Python worker
processes, which the hook does not see (``worker_body`` marks functions
decorated with ``pandas_udf``/``udf``); functions only a registry
reaches by name (validators, filters) show up when a query uses them;
calls made while the ``validate_spark`` package first imports (registry
decorators such as ``validators._v``) run before the hook is installed
and read ``none``. ``unreached_unreferenced`` therefore lists candidates
to check, not deletions: registered validators and filters land in it
when no query uses them, though the rule DSL reaches them by name.
"""

from __future__ import annotations

import argparse
import ast
import io
import json
import os
import runpy
import subprocess
import sys
import threading
import time
import tokenize
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("corpus_audit", "rule_iteration", "neardup_dedup")
MAX_VALUES = 8
SKIP_DIRS = {".git", "__pycache__", ".perfbench", "tests", "spark-warehouse", ".hypothesis"}


def _rows_df_case(loc) -> str:
    from pyspark.sql import types as T

    atomic = all(isinstance(f.dataType, T.AtomicType) for f in loc["schema"].fields)
    return f"rows={'non-empty' if loc['rows'] else 'empty'} schema={'atomic' if atomic else 'complex'}"


# (file, qualname) -> summary of a call's arguments, for branches that
# depend on more than a literal option value
PROBES = {("__spark_entry__.py", "_rows_df"): _rows_df_case}


def _rel(path: str) -> str:
    return os.path.relpath(path, ROOT)


def traced_files() -> list[str]:
    out = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, dirs, files in os.walk(os.path.join(ROOT, "validate_spark")):
        dirs[:] = sorted(x for x in dirs if x not in SKIP_DIRS)
        out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    return out


def _literal_default(node) -> bool:
    return isinstance(node, ast.Constant) or (
        isinstance(node, ast.UnaryOp) and isinstance(node.operand, ast.Constant)
    )


def functions() -> dict[tuple[str, int], dict]:
    """(abs file, first line as in ``co_firstlineno``) -> record."""
    found = {}
    for path in traced_files():
        tree = ast.parse(open(path).read(), path)

        def visit(node, prefix):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    first = min([d.lineno for d in child.decorator_list] + [child.lineno])
                    a = child.args
                    pos = a.posonlyargs + a.args
                    opts = [
                        p.arg for p, d in zip(pos[len(pos) - len(a.defaults):], a.defaults)
                        if _literal_default(d)
                    ] + [
                        p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults)
                        if d is not None and _literal_default(d)
                    ]
                    decos = [ast.unparse(d).split("(")[0] for d in child.decorator_list]
                    found[(path, first)] = {
                        "file": _rel(path),
                        "qualname": prefix + child.name,
                        "name": child.name,
                        "line": child.lineno,
                        "end": child.end_lineno,
                        "options": opts,
                        "worker_body": any(d.split(".")[-1] in ("pandas_udf", "udf") for d in decos),
                        "calls": defaultdict(int),
                        "returns": defaultdict(int),
                        "values": defaultdict(set),
                        "probe": PROBES.get((_rel(path), prefix + child.name)),
                        "cases": defaultdict(int),
                    }
                    visit(child, prefix + child.name + ".")
                elif isinstance(child, ast.ClassDef):
                    visit(child, prefix + child.name + ".")
                else:
                    visit(child, prefix)

        visit(tree, "")
    return found


def name_tokens() -> dict[str, list[tuple[str, int]]]:
    """NAME token -> [(file, line)] over every ``.py`` file of the repo
    outside ``tests/`` (comments and strings excluded)."""
    refs = defaultdict(list)
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = sorted(x for x in dirs if x not in SKIP_DIRS)
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            src = open(path).read()
            for tok in tokenize.generate_tokens(io.StringIO(src).readline):
                if tok.type == tokenize.NAME:
                    refs[tok.string].append((_rel(path), tok.start[0]))
    return refs


def _value(v) -> str:
    if v is None or isinstance(v, (bool, int, float, str)):
        return repr(v)[:60]
    return f"<{type(v).__name__}>"


class Tracer:
    def __init__(self, funcs):
        self.by_key = funcs
        self.codes = {}  # code object -> record, or None when untracked
        self.phase = "setup"

    def _record(self, code):
        rec = self.codes.get(code, False)
        if rec is False:
            rec = self.by_key.get((code.co_filename, code.co_firstlineno))
            self.codes[code] = rec
        return rec

    def hook(self, frame, event, arg):
        if event == "call":
            rec = self._record(frame.f_code)
            if rec is not None:
                rec["calls"][self.phase] += 1
                loc = frame.f_locals
                for p in rec["options"]:
                    vals = rec["values"][p]
                    if p in loc and len(vals) < MAX_VALUES:
                        vals.add(_value(loc[p]))
                if rec["probe"] is not None:
                    rec["cases"][rec["probe"](loc)] += 1
        elif event == "return":
            rec = self._record(frame.f_code)
            if rec is not None:
                rec["returns"][frame.f_lineno] += 1


def _drop_gateway() -> None:
    """End the JVM a finished script left running, so the next script
    launches its own as it does from the command line."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _run_script(path: str, argv: list[str]) -> int:
    old = sys.argv
    sys.argv = [path] + argv
    try:
        runpy.run_path(path, run_name="__main__")
        return 0
    except SystemExit as e:
        return e.code if isinstance(e.code, int) else 1
    finally:
        sys.argv = old


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--out", default=os.path.join(ROOT, "REACH.json"))
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    funcs = functions()
    tr = Tracer(funcs)
    status = {}
    t0 = time.time()
    sys.setprofile(tr.hook)
    threading.setprofile(tr.hook)
    try:
        tr.phase = "queries"
        import __spark_entry__
        from validate_spark.session import get_spark

        spark = get_spark(app="oracle_check", cores=8, shuffle_partitions=8)
        status["entry_rows"] = len(__spark_entry__.entry(spark).collect())
        status["check_oracle"] = _run_script(os.path.join(ROOT, "tools", "check_oracle.py"), [])
        _drop_gateway()

        tr.phase = "perfbench"
        sys.path.insert(0, os.path.join(ROOT, "perfbench"))
        for wl in WORKLOADS:
            status[f"perfbench:{wl}"] = _run_script(
                os.path.join(ROOT, "perfbench", "run.py"),
                ["--workload", wl, "--seed", "1", "--seconds", "0", "--size", "smoke"],
            )
            _drop_gateway()
    finally:
        sys.setprofile(None)
        threading.setprofile(None)

    refs = name_tokens()
    exported = set(__import__("validate_spark").__all__)
    out_funcs = {}
    for rec in sorted(funcs.values(), key=lambda r: (r["file"], r["line"])):
        phases = [p for p in ("queries", "perfbench") if rec["calls"].get(p)]
        outside = [
            f"{f}:{ln}" for f, ln in refs.get(rec["name"], [])
            if not (f == rec["file"] and rec["line"] <= ln <= rec["end"])
        ]
        entry = {
            "reached_by": "+".join(phases) or "none",
            "calls": dict(rec["calls"]),
            "refs_outside": len(outside),
        }
        if outside:
            entry["ref_sites"] = outside[:5]
        if rec["worker_body"]:
            entry["worker_body"] = True
        if rec["name"] in exported and "." not in rec["qualname"]:
            entry["exported"] = True
        if rec["returns"]:
            entry["returns"] = {str(k): v for k, v in sorted(rec["returns"].items())}
        if rec["cases"]:
            entry["cases"] = dict(rec["cases"])
        if rec["values"]:
            entry["values"] = {p: sorted(v) for p, v in rec["values"].items()}
        out_funcs[f"{rec['file']}:{rec['line']} {rec['qualname']}"] = entry

    candidates = [
        k for k, v in out_funcs.items()
        if v["reached_by"] == "none" and not v["refs_outside"] and not v.get("worker_body")
    ]
    try:
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True).stdout.strip()
    except OSError:
        rev = None
    report = {
        "tree": rev,
        "command": "python tools/reach.py",
        "wall_s": round(time.time() - t0, 1),
        "status": status,
        "counts": {
            "functions": len(out_funcs),
            **{
                p: sum(v["reached_by"] == p for v in out_funcs.values())
                for p in ("queries", "perfbench", "queries+perfbench", "none")
            },
            "unreached_unreferenced": len(candidates),
        },
        "unreached_unreferenced": candidates,
        "functions": out_funcs,
    }
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=False)
        fh.write("\n")
    print(f"reach: wrote {args.out}: {report['counts']}")
    return 0 if all(v == 0 for k, v in status.items() if k != "entry_rows") else 1


if __name__ == "__main__":
    sys.exit(main())
