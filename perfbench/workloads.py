"""The workloads. Each one writes its seeded inputs in ``generate``,
asks the oracle for expected values in ``expect``, runs one timed
operation in ``op`` and checks that operation's output in ``check``
(outside the timed region). Every call into ``validate_spark`` sits in
a tracer span named after the layer it enters.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import gen
import oracle as orc
from validate_spark import RuleSet, validate
from validate_spark.operators import dedup, engine, refcheck, stats, uniq
from validate_spark.sources.tables import read_table

SIZES = {
    "full": {"corpus_docs": 30_000, "request_rows": 5_000, "requests": 40, "dedup_docs": 600},
    "smoke": {"corpus_docs": 3_000, "request_rows": 500, "requests": 5, "dedup_docs": 300},
}
DEDUP_THRESHOLD = 0.8


def _span_id(rec):
    return rec["id"] if rec else None


def dir_bytes(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    total = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                total += os.path.getsize(os.path.join(base, n))
                files += 1
    return total, files


class Workload:
    name = ""

    def __init__(self, seed: int, work: str, size: dict, cores: int):
        self.seed, self.work, self.size, self.cores = seed, work, size, cores
        self.docs_per_op = 1
        self.warm_ops = [-1]  # in the set-up
        self.burn_ops = [-1]  # untimed, between set-up and measuring
        self.min_ops = 3  # timed operations, even past --seconds
        self.probes: dict[int, dict] = {}  # op span id -> query_probe totals

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def generate(self, spark) -> None:
        raise NotImplementedError

    def expect(self, oracle: orc.Oracle) -> None:
        raise NotImplementedError

    def op(self, spark, k: int, tracer):
        raise NotImplementedError

    def check(self, out, oracle: orc.Oracle) -> bool:
        raise NotImplementedError

    def after_op(self, spark) -> None:
        """Untimed cleanup between operations."""

    def traced_extras(self, spark, tracer) -> None:
        """Untimed extra measurements of the traced run."""

    def input_sizes(self) -> dict:
        return {}

    def layer_values(self, out) -> dict:
        """Per-layer values read from one operation's output."""
        return {}

    def _probe(self, tracer, op_rec, df) -> None:
        if op_rec:
            from tracing import query_probe

            acc = self.probes.setdefault(op_rec["op"], {})
            with tracer.span("catalyst.probe", parent=op_rec["id"]):
                probe = query_probe(df)
            for k, v in probe.items():
                acc[k] = acc.get(k, 0) + v


class CorpusAudit(Workload):
    """The batch audit of an interleaved corpus: scan, nested-array
    decode, the rule projection, shuffles, a broadcast anti-join and the
    quarantine write, about 17 jobs per audit."""

    name = "corpus_audit"

    def __init__(self, *a):
        super().__init__(*a)
        self.n = self.docs_per_op = self.size["corpus_docs"]
        self.ruleset = RuleSet(rules=orc.AUDIT_RULES)
        self.pool = ThreadPoolExecutor(self.cores, thread_name_prefix="audit")
        self.out_dir = None

    def generate(self, spark):
        gen.corpus(spark, self.n, self.seed, self.cores).write.mode("overwrite").parquet(self.path("docs"))
        gen.catalog(spark).write.mode("overwrite").parquet(self.path("catalog"))

    def input_sizes(self):
        b, f = dir_bytes(self.path("docs"))
        return {"docs": self.n, "catalog_refs": gen.CATALOG_REFS, "parquet_bytes": b, "parquet_files": f}

    def expect(self, oracle):
        self.exp = oracle.spans_rule_counts(self.path("docs"), orc.AUDIT_RULES)
        self.exp.update(oracle.corpus_checks(self.path("docs"), self.path("catalog")))

    def op(self, spark, k, tracer):
        self.out_dir = self.path(f"out{k}")
        with tracer.span("op", workload=self.name) as op_rec:
            with tracer.span("sources.read_table"):
                docs = read_table(spark, self.path("docs"))
                cat = read_table(spark, self.path("catalog"))
            with tracer.span("engine.validate"):
                res = validate(docs, self.ruleset, key_cols=["doc_id"])
            parent = _span_id(op_rec)

            def rollup():
                with tracer.span("engine.rollup", parent=parent):
                    rep_df = res.rule_report()
                    report = rep_df.collect()
                    verdicts = res.verdicts().groupBy("pass").count().collect()
                self._probe(tracer, op_rec, rep_df)
                return report, verdicts

            def dup():
                with tracer.span("uniq.duplicate_keys", parent=parent):
                    return uniq.duplicate_keys(docs, "doc_id").count()

            def dangling():
                with tracer.span("refcheck.dangling_span_refs", parent=parent):
                    return refcheck.dangling_span_refs(docs, cat).count()

            def histogram():
                with tracer.span("stats.length_histogram", parent=parent):
                    return stats.length_histogram(docs, "spans", bucket_width=1).collect()

            def routed():
                with tracer.span("sink.write_routed", parent=parent):
                    engine.write_routed(res, os.path.join(self.out_dir, "routed"), mode="overwrite")

            def violations():
                with tracer.span("engine.violations", parent=parent):
                    res.violations().write.mode("overwrite").parquet(os.path.join(self.out_dir, "violations"))

            tasks = (rollup, dup, dangling, histogram, routed, violations)
            futures = [self.pool.submit(fn) for fn in tasks]
            (report, verdicts), n_dup, n_dangling, hist, _, _ = [f.result() for f in futures]
        return {"report": report, "verdicts": verdicts, "dup": n_dup, "dangling": n_dangling,
                "hist": hist, "dir": self.out_dir}

    def check(self, out, oracle):
        rules = {(r["field"], r["validator"]): r["n_fail"] for r in out["report"]}
        verdicts = {r["pass"]: r["count"] for r in out["verdicts"]}
        routed = oracle.routed_counts(os.path.join(out["dir"], "routed"))
        viol = oracle.violation_counts(os.path.join(out["dir"], "violations"))
        fail, rows = self.exp["fail_rows"], self.exp["rows"]
        return (
            rules == self.exp["rules"]
            and verdicts == {False: fail, True: rows - fail}
            and routed == {False: fail, True: rows - fail}
            and viol == {key: v for key, v in self.exp["rules"].items() if v}
            and out["dup"] == self.exp["dup_keys"]
            and out["dangling"] == self.exp["dangling"]
            and {r["bucket"]: r["cnt"] for r in out["hist"]} == self.exp["histogram"]
        )

    def layer_values(self, out):
        written, files = dir_bytes(out["dir"])
        return {
            "engine.rows_in": self.n,
            "engine.violation_rows": sum(r["n_fail"] for r in out["report"]),
            "sink.bytes_written": written,
            "sink.files_written": files,
            "sink.write_amp": written / dir_bytes(self.path("docs"))[0],
        }

    def after_op(self, spark):
        if self.out_dir:
            shutil.rmtree(self.out_dir, ignore_errors=True)

    def traced_extras(self, spark, tracer):
        # scan-only noop sink: engine self time = rollup - scan
        for _ in range(3):
            with tracer.span("sources.scan"):
                read_table(spark, self.path("docs")).write.format("noop").mode("overwrite").save()


class RuleIteration(Workload):
    """Closed loop of small validation requests, half of them repeats:
    plan compile, the plan cache, Catalyst, codegen and job launch
    dominate."""

    name = "rule_iteration"

    def __init__(self, *a):
        super().__init__(*a)
        self.rows = self.docs_per_op = self.size["request_rows"]
        self.stream = gen.request_stream(4000, self.seed)
        # warm-up requests, then burn-in requests (fresh and repeat): the
        # JIT keeps speeding requests up for about the first twenty
        self.pre = gen.warm_requests(self.seed) + gen.request_stream(24, self.seed + 1_000_003)
        self.warm_ops = [-1, -2]
        self.burn_ops = list(range(-3, -len(self.pre) - 1, -1))
        self.min_ops = self.size["requests"]
        self.expected: dict[str, set] = {}
        self.compiles: dict[int, dict] = {}  # op span id -> plans info

    def generate(self, spark):
        df = spark.createDataFrame(gen.request_table(self.rows, self.seed))
        df.coalesce(1).write.mode("overwrite").parquet(self.path("requests"))

    def input_sizes(self):
        b, f = dir_bytes(self.path("requests"))
        return {"rows": self.rows, "parquet_bytes": b, "parquet_files": f}

    def expect(self, oracle):
        pass  # per request, memoized in check()

    def request(self, k: int) -> dict:
        return self.pre[-k - 1] if k < 0 else self.stream[k]

    def op(self, spark, k, tracer):
        req = self.request(k)
        with tracer.span("op", workload=self.name) as op_rec:
            with tracer.span("sources.read_table"):
                df = read_table(spark, self.path("requests"))
            ruleset = RuleSet(rules=dict(req["rules"]), filters=dict(req["filters"]))
            if op_rec:
                before = len(engine._PLAN_CACHE)
                with tracer.span("plans.compile") as rec:
                    plan = engine._cached_plan(ruleset, df.schema, None)
                self.compiles[op_rec["op"]] = {
                    "ms": (rec["end"] - rec["start"]) * 1e3,
                    "hit": len(engine._PLAN_CACHE) == before,
                    "rules": len(plan.rules),
                }
            with tracer.span("engine.validate"):
                res = validate(df, ruleset, key_cols=["rid"])
            with tracer.span("engine.violations_collect"):
                q = res.violations().groupBy("field", "validator").count()
                rows = q.collect()
            if op_rec:
                self._probe(tracer, op_rec, q)
        return {"k": k, "rows": rows}

    def check(self, out, oracle):
        req = self.request(out["k"])
        key = repr(sorted(req["rules"].items())) + repr(sorted(req["filters"].items()))
        if key not in self.expected:
            self.expected[key] = oracle.request_counts(self.path("requests"), req["rules"], req["filters"])
        got = {(r["field"], r["validator"], r["count"]) for r in out["rows"]}
        return got == self.expected[key]

    def layer_values(self, out):
        return {"engine.rows_in": self.rows, "engine.violation_rows": sum(r["count"] for r in out["rows"])}


class NeardupDedup(Workload):
    """The only per-row Python path: Arrow UDF shingling, the persisted
    shingle frame, multi-stage shuffles and the label-propagation loop."""

    name = "neardup_dedup"

    def __init__(self, *a):
        super().__init__(*a)
        self.n = self.docs_per_op = self.size["dedup_docs"]
        self.burn_ops = []  # the set-up's warm-up operation is enough
        self.checked: dict[frozenset, bool] = {}

    def generate(self, spark):
        df = spark.createDataFrame(gen.text_corpus(self.n, self.seed))
        df.repartition(self.cores).write.mode("overwrite").parquet(self.path("texts"))

    def input_sizes(self):
        b, f = dir_bytes(self.path("texts"))
        return {"docs": self.n, "near_copies": int(self.n * 0.2), "parquet_bytes": b, "parquet_files": f}

    def expect(self, oracle):
        pass  # pairs are verified by exact Jaccard in check()

    def op(self, spark, k, tracer):
        with tracer.span("op", workload=self.name):
            with tracer.span("sources.read_table"):
                df = read_table(spark, self.path("texts"))
            with tracer.span("dedup.minhash_dedup_pairs"):
                pairs_df = dedup.minhash_dedup_pairs(df, threshold=DEDUP_THRESHOLD).localCheckpoint()
                pairs = pairs_df.collect()
            with tracer.span("dedup.dedup_clusters"):
                clusters = dedup.dedup_clusters(pairs_df).collect()
        return {"pairs": [(r["a"], r["b"]) for r in pairs], "clusters": [(r["member"], r["cluster"]) for r in clusters]}

    def check(self, out, oracle):
        key = frozenset(out["pairs"])
        if key not in self.checked:
            jac = oracle.pair_jaccards(self.path("texts"), sorted(key))
            self.checked[key] = bool(key) and len(jac) == len(key) and all(
                round(j, 6) >= DEDUP_THRESHOLD for j in jac
            )
        return self.checked[key] and out["clusters"] and _components_ok(out["pairs"], out["clusters"])

    def layer_values(self, out):
        return {"n_pairs": len(out["pairs"])}

    def after_op(self, spark):
        spark.catalog.clearCache()

    def traced_extras(self, spark, tracer):
        with tracer.span("dedup.candidates") as rec:
            df = read_table(spark, self.path("texts"))
            rec["count"] = dedup.minhash_candidates(
                df, size_ratio_min=DEDUP_THRESHOLD - 1e-6
            ).count()
        spark.catalog.clearCache()


def _components_ok(pairs, clusters) -> bool:
    """Every member's cluster is the minimum key of its connected
    component in the pair graph (union-find)."""
    parent: dict[str, str] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {m: find(m) for m in list(parent)}
    return dict(clusters) == expected


WORKLOADS = {w.name: w for w in (CorpusAudit, RuleIteration, NeardupDedup)}
