"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed. The same seed gives the same
inputs; two seeds give different values with identical sizes and
identical violation rates, because each violation cohort is an exact
id-modulus class whose phase (not its period) depends on the seed.
The program under test only ever sees the written parquet files.
"""

from __future__ import annotations

import hashlib
import random

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

KINDS = ["text", "image", "audio", "video"]
WORDS = [
    "spark", "scan", "merge", "join", "filter", "window", "batch", "stream",
    "row", "column", "shuffle", "hash", "sort", "group", "data", "value",
    "table", "index", "plan", "stage", "task", "block", "cache", "sketch",
]
CATALOG_REFS = 100_000

# corpus cohorts: name -> id-modulus period (rate = 1/period)
COHORTS = {
    "null_id": 97,      # doc_id NULL            -> doc_id required
    "short_id": 89,     # doc_id 'dx'            -> doc_id minLength (and a hot duplicate key)
    "dup_id": 101,      # doc_id of the previous row -> duplicate key
    "empty_spans": 83,  # spans = []             -> spans / spans.*.kind required
    "bad_kind": 79,     # span 0 kind 'hologram' -> spans.*.kind enum
    "neg_offset": 73,   # span 0 offset -1       -> spans.*.offset min
    "bad_ref": 71,      # span 0 ref 'm-12x45'   -> spans.*.media_ref regexp
    "dangling": 50,     # span 0 ref outside the catalog -> dangling ref
}

SPANS_TYPE = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"


def _phase(seed: int, name: str, period: int) -> int:
    digest = hashlib.sha256(f"{seed}:{name}".encode()).digest()
    return int.from_bytes(digest[:8], "little") % period


def _h(seed: int, salt: int, *cols):
    return F.xxhash64(*cols, F.lit(seed * 1009 + salt))


def corpus(spark, n_docs: int, seed: int, n_parts: int):
    """The interleaved documents table (input_hint schema):
    ``doc_id string, spans array<struct<kind,text,media_ref,offset>>``,
    1 to 5 spans per doc and the violation cohorts of ``COHORTS``."""
    i = F.col("id")

    def cohort(name):
        period = COHORTS[name]
        return F.pmod(i + F.lit(_phase(seed, name, period)), F.lit(period)) == 0

    plain_id = F.concat(F.lit("doc-"), F.lpad(i.cast("string"), 10, "0"))
    prev_id = F.concat(F.lit("doc-"), F.lpad((i - 1).cast("string"), 10, "0"))
    doc_id = (
        F.when(cohort("null_id"), F.lit(None).cast("string"))
        .when(cohort("short_id"), F.lit("dx"))
        .when(cohort("dup_id") & (i > 0), prev_id)
        .otherwise(plain_id)
    )
    n_spans = 1 + F.pmod(i * 7 + F.lit(_phase(seed, "n_spans", 5)), F.lit(5))
    n_spans = F.when(cohort("empty_spans"), F.lit(0)).otherwise(n_spans)

    words = F.array(*[F.lit(w) for w in WORDS])

    def span(j):
        jh = _h(seed, 1, i, j)
        kind = F.get(F.array(*[F.lit(k) for k in KINDS]), F.pmod(jh, F.lit(4)).cast("int"))
        n_words = (4 + F.pmod(jh, F.lit(21))).cast("int")
        text_val = F.array_join(
            F.transform(
                F.sequence(F.lit(1), n_words),
                lambda w: F.get(words, F.pmod(_h(seed, 2, i, j, w), F.lit(len(WORDS))).cast("int")),
            ),
            " ",
        )
        ref = F.concat(F.lit("m-"), F.lpad(F.pmod(jh, F.lit(CATALOG_REFS)).cast("string"), 8, "0"))
        first = j == 0
        dangling = cohort("dangling") & first
        kind = (
            F.when(cohort("bad_kind") & first, F.lit("hologram"))
            .when(dangling, F.lit("image"))
            .otherwise(kind)
        )
        text = F.when(kind == "text", text_val)
        media_ref = (
            F.when(dangling, F.concat(F.lit("m-9"), F.lpad(F.pmod(jh, F.lit(10_000_000)).cast("string"), 7, "0")))
            .when(cohort("bad_ref") & first, F.lit("m-12x45"))
            .when(kind != "text", ref)
        )
        offset = F.when(cohort("neg_offset") & first, F.lit(-1)).otherwise(j * 10)
        return F.struct(
            kind.alias("kind"),
            text.alias("text"),
            media_ref.alias("media_ref"),
            offset.cast("int").alias("offset"),
        )

    spans = F.transform(F.sequence(F.lit(0), F.greatest(n_spans - 1, F.lit(0))), span)
    spans = F.when(n_spans == 0, F.array().cast(SPANS_TYPE)).otherwise(spans)
    return spark.range(0, n_docs, 1, n_parts).select(doc_id.alias("doc_id"), spans.alias("spans"))


def catalog(spark):
    """media_catalog(ref): every well-formed ref the corpus draws."""
    return spark.range(0, CATALOG_REFS, 1, 1).select(
        F.concat(F.lit("m-"), F.lpad(F.col("id").cast("string"), 8, "0")).alias("ref")
    )


# --- near-duplicate text corpus ---------------------------------------------

def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return ["".join(rng.choice(letters, size=int(k))) for k in rng.integers(3, 9, size=n)]


def text_corpus(n_docs: int, seed: int, dup_frac: float = 0.2) -> pd.DataFrame:
    """``(doc_id, text)``: random 40-80 word documents; ``dup_frac`` of
    them are near-copies, each of a different original, with one word
    replaced, so their 5-shingle Jaccard to it is about 0.91-0.98. The
    near-duplicate graph is then ``n_docs * dup_frac`` disjoint pairs
    for every seed, and the label-propagation loop runs the same number
    of rounds."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 4000)
    n_dup = int(n_docs * dup_frac)
    n_orig = n_docs - n_dup
    origs = [
        list(rng.choice(vocab, size=int(rng.integers(40, 81)))) for _ in range(n_orig)
    ]
    texts = [" ".join(w) for w in origs]
    for src in rng.choice(n_orig, size=n_dup, replace=False):
        words = list(origs[src])
        words[int(rng.integers(len(words)))] = vocab[int(rng.integers(len(vocab)))]
        texts.append(" ".join(words))
    order = rng.permutation(n_docs)
    return pd.DataFrame({
        "doc_id": [f"t-{k:07d}" for k in range(n_docs)],
        "text": [texts[j] for j in order],
    })


# --- request table and request stream for rule_iteration -------------------

COUNTRIES = ["US", "DE", "FR", "JP", "BR", "IN", "GB", "CA"]


def request_table(n_rows: int, seed: int) -> pd.DataFrame:
    """A user-records table for small validation requests. Every
    failure class is an exact share of the rows (seeded positions)."""
    rng = np.random.default_rng(seed + 7)
    idx = rng.permutation(n_rows)

    def mask(lo: float, hi: float) -> np.ndarray:
        m = np.zeros(n_rows, dtype=bool)
        m[idx[int(lo * n_rows):int(hi * n_rows)]] = True
        return m

    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    name = np.array(["".join(rng.choice(letters, size=int(k))) for k in rng.integers(2, 21, size=n_rows)], dtype=object)
    name[mask(0.00, 0.02)] = None
    name[mask(0.02, 0.04)] = ""
    user = np.array([f"u{k}" for k in rng.integers(0, 10**6, size=n_rows)], dtype=object)
    email = np.array([f"{u}@mail{k % 9}.example.com" for u, k in zip(user, range(n_rows))], dtype=object)
    bad_email = mask(0.04, 0.09)
    email[bad_email] = [f"{u}.example.com" for u in user[bad_email]]
    email[mask(0.09, 0.10)] = None
    country = rng.choice(COUNTRIES, size=n_rows).astype(object)
    country[mask(0.10, 0.13)] = "XX"
    padded = mask(0.13, 0.16)
    country[padded] = [f" {c.lower()} " for c in country[padded]]
    days = rng.integers(0, 3 * 365, size=n_rows)
    created = (np.datetime64("2022-01-01") + days).astype(str).astype(object)
    created[mask(0.16, 0.18)] = "2024-13-45"
    created[mask(0.18, 0.19)] = "yesterday"
    digits = rng.integers(0, 10**6, size=n_rows)
    width = rng.integers(3, 6, size=n_rows)
    code = np.array([
        f"{chr(65 + d % 26)}{chr(65 + (d // 26) % 26)}-{str(d).zfill(6)[:w]}"
        for d, w in zip(digits, width)
    ], dtype=object)
    code[mask(0.19, 0.22)] = [c.lower() for c in code[mask(0.19, 0.22)]]
    password = np.array([f"pw{k:06d}" for k in rng.integers(0, 10**6, size=n_rows)], dtype=object)
    confirm = password.copy()
    confirm[mask(0.22, 0.26)] = "pw-mismatch"
    return pd.DataFrame({
        "rid": np.arange(n_rows, dtype=np.int64),
        "name": name, "email": email, "country": country, "created": created,
        "code": code, "password": password, "confirm": confirm,
    })


FAMILIES = ["required", "length", "enum", "regexp", "date", "format", "cross", "filter"]


def _fresh_request(rng: random.Random, j: int) -> dict:
    """The ``j``-th fresh request: a rule set over four consecutive
    validator families of ``FAMILIES`` (starting at ``j`` mod 8), with
    fresh arguments. The families, the validator variants and the enum
    sizes depend on ``j`` alone and only the argument values on the
    seed, so every seed's stream holds the same rules in the same order
    and costs the same."""
    fams = [FAMILIES[(j + d) % len(FAMILIES)] for d in range(4)]
    cycle = j // len(FAMILIES)
    rules: dict[str, str] = {}
    filters: dict[str, str] = {}
    for fam in fams:
        if fam == "required":
            rules["name"] = "required"
        elif fam == "length":
            lo = rng.randint(2, 8)
            rules.setdefault("name", "")
            rules["name"] = "|".join(
                p for p in (rules["name"], f"minLength:{lo}|maxLength:{lo + rng.randint(4, 14)}") if p
            )
        elif fam == "enum":
            rules["country"] = "enum:" + ",".join(sorted(rng.sample(COUNTRIES, 3 + cycle % 5)))
        elif fam == "regexp":
            rules["code"] = f"regexp:^[A-Z]{{2}}-[0-9]{{{rng.randint(3, 5)}}}$"
        elif fam == "date":
            if cycle % 2 == 0:
                rules["created"] = "isDate"
            else:
                rules["created"] = f"afterDate:2022-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        elif fam == "format":
            rules["email"] = "required|isEmail" if cycle % 2 == 0 else "isEmail"
        elif fam == "cross":
            rules["confirm"] = "eqField:password"
        elif fam == "filter":
            filters["country"] = "trim|upper"
            rules["country"] = "required|enum:" + ",".join(sorted(rng.sample(COUNTRIES, 4 + cycle % 5)))
    return {"rules": rules, "filters": filters}


def warm_requests(seed: int) -> list[dict]:
    """Two fresh requests that together cover all eight families."""
    rng = random.Random(seed * 7919 + 13)
    return [_fresh_request(rng, 0), _fresh_request(rng, 4)]


def request_stream(n: int, seed: int) -> list[dict]:
    """``n`` requests alternating fresh and repeat: every odd request
    repeats an earlier fresh rule set verbatim (so it can hit the plan
    cache), the one halfway through the fresh ones so far."""
    rng = random.Random(seed * 7919 + 11)
    fresh: list[dict] = []
    out: list[dict] = []
    for k in range(n):
        if k % 2 == 1:
            out.append(fresh[len(fresh) // 2])
        else:
            fresh.append(_fresh_request(rng, len(fresh)))
            out.append(fresh[-1])
    return out
