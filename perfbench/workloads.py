"""Seeded inputs, catalog rows and correctness oracles for the four
pipeline workloads.

Each workload is generated from the ``--seed`` alone (NumPy + PyArrow in
the benchmark process, no Spark), written as parquet, and described to
the program only through catalog rows. The planted facts the oracles
check (defect counts, near-duplicate pairs, per-day row counts) are
recorded while planting, never recomputed with the program.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes: operations are dominated by per-job costs, so smaller inputs
# change little in an operation's time but shorten the first, slow ones.
STAR_FACT_ROWS = 80_000
STAR_CUSTOMERS = 20_000
STAR_PRODUCTS = 2_000
DQ_ROWS = 120_000
BACKFILL_DAYS = 6
BACKFILL_ROWS_PER_DAY = 4_000
CURATION_DOCS = 500
CURATION_NEAR_DUPS = 50
# the large inputs are split like a data lake table, one file per core
FACT_FILES = 4

WORKLOAD_INDEX = {"star_etl": 0, "dq_audit": 1, "backfill_daily": 2, "curation_dedup": 3}


@dataclass
class Source:
    """One generated input as the program sees it: a path, plus what the
    oracle and the scan-amplification ratio need to know about it."""

    name: str
    path: str
    rows: int
    bytes_on_disk: int


@dataclass
class Inputs:
    """Everything one workload generated for one seed."""

    sources: list[Source]
    truth: dict[str, Any] = field(default_factory=dict)

    @property
    def rows(self) -> int:
        return sum(s.rows for s in self.sources)

    @property
    def bytes_on_disk(self) -> int:
        return sum(s.bytes_on_disk for s in self.sources)


def rng_for(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([seed, WORKLOAD_INDEX[workload]])


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _write(table: pa.Table, path: Path, name: str, parts: int = 1) -> Source:
    """Write ``table`` as ``parts`` equal parquet files in directory ``path``."""
    path.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:05d}.parquet")
    return Source(name, str(path), table.num_rows, _dir_bytes(path))


def _strings(values: list[str], idx: np.ndarray) -> pa.Array:
    """Dictionary-decode ``idx`` into a plain string column (fast path for
    categorical columns)."""
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(values)
    ).cast(pa.string())


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory, read from the footers."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in Path(path).rglob("*.parquet"))


# --------------------------------------------------------------- star_etl

REGIONS = ["north", "south", "east", "west", "central", "coastal", "mountain", "plains"]
CATEGORIES = [f"cat_{i:02d}" for i in range(12)]
STATUS = ["ok", "ok_promo", "returned", "exchanged", "void"]


def generate_star(root: Path, seed: int) -> Inputs:
    rng = rng_for("star_etl", seed)
    n = STAR_FACT_ROWS
    sales = pa.table({
        "sale_id": pa.array(np.arange(n, dtype=np.int64)),
        "customer_id": pa.array(rng.integers(0, STAR_CUSTOMERS, n, dtype=np.int32)),
        "product_id": pa.array(rng.integers(0, STAR_PRODUCTS, n, dtype=np.int32)),
        # a few zero quantities, which the filter step drops
        "qty": pa.array(rng.integers(0, 11, n, dtype=np.int32)),
        "price_cents": pa.array(rng.integers(100, 100_000, n, dtype=np.int64)),
        "discount_pct": pa.array(rng.integers(0, 31, n, dtype=np.int32)),
        "status": _strings(STATUS, rng.choice(5, n, p=[0.6, 0.15, 0.1, 0.05, 0.1])),
    })
    customers = pa.table({
        "customer_id": pa.array(np.arange(STAR_CUSTOMERS, dtype=np.int32)),
        "region": _strings(REGIONS, rng.integers(0, len(REGIONS), STAR_CUSTOMERS)),
        "segment": _strings(["retail", "smb", "enterprise", "public"],
                            rng.integers(0, 4, STAR_CUSTOMERS)),
    })
    products = pa.table({
        "product_id": pa.array(np.arange(STAR_PRODUCTS, dtype=np.int32)),
        "category": _strings(CATEGORIES, rng.integers(0, len(CATEGORIES), STAR_PRODUCTS)),
        "brand": _strings([f"brand_{i}" for i in range(50)],
                          rng.integers(0, 50, STAR_PRODUCTS)),
    })
    d = root / "star_etl"
    return Inputs([
        _write(sales, d / "sales", "sales", parts=FACT_FILES),
        _write(customers, d / "customers", "customers"),
        _write(products, d / "products", "products"),
    ])


STAR_STEPS = [
    {"type": "filter", "config": {"condition": "status <> 'void' AND qty > 0"}},
    {"type": "map", "config": {"derive": {
        "net_cents": "qty * price_cents * (100 - discount_pct)"}}},
    {"type": "join", "config": {"right_source": "customers", "on": "customer_id"}},
    {"type": "join", "config": {"right_source": "products", "on": "product_id"}},
    {"type": "aggregate", "config": {
        "group_by": ["region", "category"],
        "aggregations": {"net_cents": "sum", "qty": "sum", "sale_id": "count"}}},
]

STAR_ORACLE_SQL = """
SELECT c.region, p.category,
       CAST(SUM(s.qty * s.price_cents * (100 - s.discount_pct)) AS BIGINT),
       CAST(SUM(s.qty) AS BIGINT), COUNT(*)
FROM read_parquet('{sales}/*.parquet') s
JOIN read_parquet('{customers}/*.parquet') c USING (customer_id)
JOIN read_parquet('{products}/*.parquet') p USING (product_id)
WHERE s.status <> 'void' AND s.qty > 0
GROUP BY 1, 2
"""


def star_expected(inputs: Inputs) -> list[tuple]:
    """Independent DuckDB answer over the same parquet files."""
    import duckdb

    paths = {s.name: s.path for s in inputs.sources}
    con = duckdb.connect()
    try:
        return sorted(con.execute(STAR_ORACLE_SQL.format(**paths)).fetchall())
    finally:
        con.close()


def star_actual(out_path: str) -> list[tuple]:
    t = pq.read_table(out_path)
    cols = ["region", "category", "net_cents_sum", "qty_sum", "sale_id_count"]
    return sorted(zip(*(t.column(c).to_pylist() for c in cols)))


# --------------------------------------------------------------- dq_audit

COUNTRIES = ["US", "CA", "GB", "DE", "FR", "JP", "BR", "IN"]
ACCOUNT_STATUS = ["active", "suspended", "closed"]
AS_OF = "2024-06-01 00:00:00"

# ~20 row rules; each defect planted below fails a known subset of them
DQ_ROW_RULES = [
    {"name": "email_not_null", "type": "not_null", "column": "email"},
    {"name": "email_format", "type": "email_format", "column": "email"},
    {"name": "name_not_null", "type": "not_null", "column": "name"},
    {"name": "age_range", "type": "value_range", "column": "age", "min": 0, "max": 120},
    {"name": "age_not_null", "type": "not_null", "column": "age"},
    {"name": "balance_non_negative", "type": "value_range", "column": "balance_cents",
     "min": 0},
    {"name": "country_allowed", "type": "allowed_values", "column": "country",
     "allowed_values": COUNTRIES},
    {"name": "country_not_null", "type": "not_null", "column": "country"},
    {"name": "status_allowed", "type": "allowed_values", "column": "status",
     "allowed_values": ACCOUNT_STATUS},
    {"name": "zip_pattern", "type": "regex_pattern", "column": "zip",
     "pattern": r"^\d{5}$"},
    {"name": "phone_format", "type": "phone_format", "column": "phone"},
    {"name": "signup_date_format", "type": "date_format", "column": "signup_date",
     "format": "yyyy-MM-dd"},
    {"name": "limit_covers_balance", "type": "cross_field", "field1": "credit_limit_cents",
     "operator": ">=", "field2": "balance_cents"},
    {"name": "period_order", "type": "date_sequence", "start_column": "period_start",
     "end_column": "period_end"},
    {"name": "total_matches", "type": "calculated_field", "field": "total_cents",
     "expression": "qty * unit_cents"},
    {"name": "amount_numeric", "type": "data_type", "column": "amount_str",
     "expected_type": "double"},
    {"name": "score_bounds", "type": "expression", "expression": "score BETWEEN 0 AND 100"},
    {"name": "contact_required", "type": "required_fields",
     "columns": ["name", "email", "country"]},
    {"name": "no_future_login", "type": "future_dates", "column": "last_login",
     "as_of": AS_OF},
    {"name": "login_fresh", "type": "freshness", "column": "last_login",
     "max_age_hours": 24 * 200, "as_of": AS_OF},
    {"name": "mix_sums_to_100", "type": "sum_equals",
     "columns": ["mix_a", "mix_b", "mix_c"], "expected": 100},
]
DQ_COMPLETENESS_COLUMNS = ["name", "email", "age", "country"]
DQ_DATASET_RULES = [
    {"name": "id_unique", "type": "primary_key_unique", "columns": ["id"]},
    # filled with every column at generation time
    {"name": "row_duplicates", "type": "duplicate_rows", "columns": None},
    {"name": "completeness", "type": "completeness_score",
     "columns": DQ_COMPLETENESS_COLUMNS},
    {"name": "id_distinct", "type": "unique_count", "column": "id"},
]

# row-level defects planted in disjoint rows: defect -> rules it fails
_DEFECTS = {
    "null_email": ["email_not_null", "contact_required"],
    "bad_email": ["email_format"],
    "null_name": ["name_not_null", "contact_required"],
    "bad_age": ["age_range"],
    "null_age": ["age_not_null"],
    "negative_balance": ["balance_non_negative"],
    "bad_country": ["country_allowed"],
    "null_country": ["country_not_null", "contact_required"],
    "bad_status": ["status_allowed"],
    "bad_zip": ["zip_pattern"],
    "bad_phone": ["phone_format"],
    "bad_signup": ["signup_date_format"],
    "over_limit": ["limit_covers_balance"],
    "period_reversed": ["period_order"],
    "bad_total": ["total_matches"],
    "bad_amount": ["amount_numeric"],
    "bad_score": ["score_bounds"],
    "future_login": ["no_future_login"],
    "stale_login": ["login_fresh"],
    "bad_mix": ["mix_sums_to_100"],
}


def dq_rules(columns: list[str]) -> list[dict]:
    ds = [dict(r) for r in DQ_DATASET_RULES]
    ds[1]["columns"] = list(columns)
    return [dict(r) for r in DQ_ROW_RULES] + ds


def generate_dq(root: Path, seed: int) -> Inputs:
    rng = rng_for("dq_audit", seed)
    n = DQ_ROWS
    counts = {d: int(rng.integers(20, 400)) for d in _DEFECTS}
    n_id_dup = int(rng.integers(50, 300))
    n_full_dup = int(rng.integers(50, 300))

    order = rng.permutation(n)
    rows_of: dict[str, np.ndarray] = {}
    at = 0
    for d, k in list(counts.items()) + [("id_dup", n_id_dup), ("full_dup", n_full_dup)]:
        rows_of[d] = order[at:at + k]
        at += k
    # partners are clean rows that the duplicate rows copy from
    id_partners = order[at:at + n_id_dup]
    full_partners = order[at + n_id_dup:at + n_id_dup + n_full_dup]

    ids = np.arange(n, dtype=np.int64) + 1_000_000
    name = np.array([f"user_{i}" for i in range(n)], dtype=object)
    email = np.array([f"user{i}@example.com" for i in range(n)], dtype=object)
    age = rng.integers(18, 90, n)
    credit = rng.integers(100_000, 1_000_000, n)
    balance = (credit * rng.random(n)).astype(np.int64)
    country = rng.choice(np.array(COUNTRIES, dtype=object), n)
    status = rng.choice(np.array(ACCOUNT_STATUS, dtype=object), n)
    zips = np.array([f"{z:05d}" for z in rng.integers(0, 100_000, n)], dtype=object)
    phone = np.array([f"{a}-{b}-{c:04d}" for a, b, c in zip(
        rng.integers(200, 999, n), rng.integers(200, 999, n),
        rng.integers(0, 10_000, n))], dtype=object)
    base = dt.date(2020, 1, 1)
    signup_days = rng.integers(0, 1400, n)
    signup = np.array([(base + dt.timedelta(days=int(x))).isoformat()
                       for x in signup_days], dtype=object)
    period_start = signup_days.astype(np.int32) + 18262  # days since epoch
    period_end = period_start + rng.integers(0, 365, n).astype(np.int32)
    qty = rng.integers(1, 20, n)
    unit = rng.integers(50, 5000, n)
    total = qty * unit
    amount = np.array([f"{x:.2f}" for x in rng.random(n) * 1000], dtype=object)
    score = np.round(rng.random(n) * 100, 3)
    # clean logins: 2024-01-01 .. 2024-05-31 (within 200 days of AS_OF)
    login_base = np.datetime64("2024-01-01T00:00:00", "us")
    login = login_base + (rng.random(n) * 151 * 86400e6).astype("timedelta64[us]")
    mix_a = rng.integers(0, 50, n)
    mix_b = rng.integers(0, 50, n)
    mix_c = 100 - mix_a - mix_b

    null_age = np.zeros(n, dtype=bool)
    r = rows_of
    email[r["null_email"]] = None
    email[r["bad_email"]] = [f"user{i}_at_example" for i in r["bad_email"]]
    name[r["null_name"]] = None
    age[r["bad_age"]] = rng.integers(121, 200, len(r["bad_age"]))
    null_age[r["null_age"]] = True
    balance[r["negative_balance"]] = -rng.integers(1, 10_000, len(r["negative_balance"]))
    country[r["bad_country"]] = "XX"
    country[r["null_country"]] = None
    status[r["bad_status"]] = "unknown"
    zips[r["bad_zip"]] = "12a4"
    phone[r["bad_phone"]] = "call me"
    signup[r["bad_signup"]] = "not-a-date"
    balance[r["over_limit"]] = credit[r["over_limit"]] + 1
    period_end[r["period_reversed"]] = period_start[r["period_reversed"]] - 1
    total[r["bad_total"]] += 1
    amount[r["bad_amount"]] = "n/a"
    score[r["bad_score"]] = 150.0
    login[r["future_login"]] = np.datetime64("2025-02-01T00:00:00", "us")
    login[r["stale_login"]] = np.datetime64("2023-01-15T00:00:00", "us")
    mix_c[r["bad_mix"]] -= 10

    cols: dict[str, Any] = {
        "id": ids, "name": name, "email": email, "age": age, "credit_limit_cents": credit,
        "balance_cents": balance, "country": country, "status": status, "zip": zips,
        "phone": phone, "signup_date": signup, "period_start": period_start,
        "period_end": period_end, "qty": qty, "unit_cents": unit, "total_cents": total,
        "amount_str": amount, "score": score, "last_login": login,
        "mix_a": mix_a, "mix_b": mix_b, "mix_c": mix_c,
    }
    # id collisions: same id as a clean partner, every other column differs
    ids[r["id_dup"]] = ids[id_partners]
    # full duplicates: every column copied from a clean partner
    for v in cols.values():
        v[r["full_dup"]] = v[full_partners]
    null_age[r["full_dup"]] = null_age[full_partners]

    arrays = {}
    for k, v in cols.items():
        if k == "age":
            arrays[k] = pa.array(v, mask=null_age, type=pa.int32())
        elif k in ("period_start", "period_end"):
            arrays[k] = pa.array(v.astype(np.int32), type=pa.date32())
        elif k == "last_login":
            arrays[k] = pa.array(v, type=pa.timestamp("us", tz="UTC"))
        elif v.dtype == object:
            arrays[k] = pa.array(v.tolist(), type=pa.string())
        else:
            arrays[k] = pa.array(v)
    table = pa.table(arrays)

    failed = {rule["name"]: 0 for rule in DQ_ROW_RULES}
    for defect, rules in _DEFECTS.items():
        for rule in rules:
            failed[rule] += counts[defect]
    # every duplicate group here has exactly two members
    failed["id_unique"] = 2 * (n_id_dup + n_full_dup)
    failed["row_duplicates"] = 2 * n_full_dup
    failed["completeness"] = sum(counts[d] for d in
                                 ("null_email", "null_name", "null_age", "null_country"))
    failed["id_distinct"] = n_id_dup + n_full_dup
    src = _write(table, root / "dq_audit" / "accounts", "accounts", parts=FACT_FILES)
    return Inputs([src], {"failed_rows": failed, "columns": table.column_names})


# --------------------------------------------------------- backfill_daily

BACKFILL_FIRST_DAY = dt.date(2024, 3, 1)
EVENT_TYPES = ["view", "click", "cart", "buy", "share"]


def backfill_days() -> list[str]:
    return [(BACKFILL_FIRST_DAY + dt.timedelta(days=i)).isoformat()
            for i in range(BACKFILL_DAYS)]


def generate_backfill(root: Path, seed: int) -> Inputs:
    rng = rng_for("backfill_daily", seed)
    sources = []
    for i, day in enumerate(backfill_days()):
        n = int(BACKFILL_ROWS_PER_DAY * rng.uniform(0.9, 1.1))
        start = np.datetime64(day + "T00:00:00", "us")
        table = pa.table({
            "event_id": pa.array(np.arange(n, dtype=np.int64) + i * 10_000_000),
            "user_id": pa.array(rng.integers(0, 50_000, n, dtype=np.int64)),
            "event_type": _strings(EVENT_TYPES, rng.integers(0, len(EVENT_TYPES), n)),
            "value": pa.array(rng.integers(0, 1000, n, dtype=np.int32)),
            "ts": pa.array(start + (rng.random(n) * 86400e6).astype("timedelta64[us]"),
                           type=pa.timestamp("us", tz="UTC")),
        })
        path = root / "backfill_daily" / "events" / f"day={day}"
        sources.append(_write(table, path, day))
    return Inputs(sources)


BACKFILL_STEPS = [
    {"type": "filter", "config": {"condition": "value >= 0"}},
    {"type": "map", "config": {"derive": {"value_x2": "value * 2"}}},
]


# --------------------------------------------------------- curation_dedup

_STOPWORDS = ["the", "a", "an", "of", "to", "in", "and", "is", "it", "for", "on", "with"]


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size)
    words = {"".join(rng.choice(letters, k)) for k in lens}
    return sorted(words - set(_STOPWORDS))


def generate_curation(root: Path, seed: int) -> Inputs:
    """Random-vocabulary documents plus planted near-duplicates: each copy
    swaps one or two words of an original, so its word-3-gram Jaccard
    with the original stays >= 0.85 while unrelated documents share almost
    no 3-grams."""
    rng = rng_for("curation_dedup", seed)
    vocab = np.array(_vocab(rng, 4000), dtype=object)
    zipf = 1.0 / np.arange(1, len(vocab) + 1)
    zipf /= zipf.sum()
    originals = rng.choice(CURATION_DOCS, CURATION_NEAR_DUPS, replace=False)
    # line repetition would shrink a copy's distinct 3-grams, so only
    # documents without a planted copy get it
    repeat = rng.random(CURATION_DOCS + CURATION_NEAR_DUPS) < 0.15
    repeat[originals] = False
    repeat[CURATION_DOCS:] = False
    docs: list[list[str]] = []
    for _ in range(CURATION_DOCS):
        n_words = int(rng.integers(80, 220))
        words = rng.choice(vocab, n_words, p=zipf)
        stops = rng.random(n_words) < rng.uniform(0.05, 0.4)
        words[stops] = rng.choice(np.array(_STOPWORDS, dtype=object), int(stops.sum()))
        docs.append(list(words))
    for o in originals:
        copy = list(docs[o])
        for pos in rng.choice(len(copy), int(rng.integers(1, 3)), replace=False):
            copy[pos] = str(rng.choice(vocab))
        docs.append(copy)
    texts = []
    for words, rep in zip(docs, repeat):
        # ~8 words per line; some documents repeat lines (low quality)
        lines = [" ".join(words[i:i + 8]) for i in range(0, len(words), 8)]
        if rep:
            lines = lines[: max(1, len(lines) // 3)] * 3
        texts.append("\n".join(lines))
    # shuffle ids so the copy is not always the larger id
    ids = rng.permutation(len(docs)).astype(np.int64) + 1
    pairs = sorted(
        tuple(sorted((int(ids[o]), int(ids[CURATION_DOCS + j]))))
        for j, o in enumerate(originals)
    )
    table = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, type=pa.string()),
        "source": _strings(["web", "books", "news", "forum"],
                           rng.integers(0, 4, len(docs))),
    })
    src = _write(table, root / "curation_dedup" / "docs", "docs")
    return Inputs([src], {"planted_pairs": pairs})


CURATION_STEPS = [
    {"type": "dedup", "config": {"method": "near", "threshold": 0.8}},
    {"type": "quality_filter", "config": {"min_score": 0.45}},
    {"type": "sample", "config": {"mode": "fraction", "fraction": 0.7, "salt": "bench"}},
    {"type": "split", "config": {"fractions": {"train": 0.8, "val": 0.1, "test": 0.1}}},
]


# ------------------------------------------------------------ the registry

@dataclass
class Workload:
    """How one workload is generated, declared to the catalog, run as one
    operation, and checked."""

    name: str
    generate: Callable[[Path, int], Inputs]
    register: Callable[[Any, Inputs, Path], int]
    operate: Callable[[Any, int], dict]
    # check(result, inputs, out_root, state, orchestrator) -> problem or None
    check: Callable[..., str | None]
    # untimed operations before the window: after them, most of the fall
    # in an operation's CPU time is over (see README.md, "Steadiness")
    warmup: int


def _register_common(store, name: str, sources: dict[str, str], steps: list[dict],
                     primary: str, target: str, rules: list[dict]) -> int:
    pid = store.register_pipeline(name, description=f"benchmark workload {name}")
    for sname, spath in sources.items():
        store.register_source(pid, sname, "parquet", {"path": spath, "fmt": "parquet"})
    store.register_transformation(pid, steps, primary_source=primary)
    store.register_target(pid, f"{name}_out", "parquet", {"path": target})
    for rule in rules:
        store.register_dq_rule(pid, rule)
    store.register_sla(pid, "execution_time", 3600.0)
    return pid


def _paths(inputs: Inputs) -> dict[str, str]:
    return {s.name: s.path for s in inputs.sources}


def _execute(orch, pid: int) -> dict:
    return orch.execute_pipeline(pid, trigger_type="benchmark", triggered_by="perfbench")


def _star_register(store, inputs: Inputs, out: Path) -> int:
    rules = [
        {"name": "region_present", "type": "not_null", "column": "region"},
        {"name": "group_nonempty", "type": "value_range", "column": "sale_id_count", "min": 1},
    ]
    return _register_common(store, "star_etl", _paths(inputs), STAR_STEPS, "sales",
                            str(out / "star_etl"), rules)


def _star_check(result, inputs, out, state, orch) -> str | None:
    if "expected" not in state:
        state["expected"] = star_expected(inputs)
    got = star_actual(str(out / "star_etl"))
    if got != state["expected"]:
        return f"star_etl output differs from DuckDB ({len(got)} vs {len(state['expected'])} groups)"
    if not all(r["passed"] for r in result["dq"]["results"]):
        return "star_etl DQ rule failed on clean output"
    return None


def _dq_register(store, inputs: Inputs, out: Path) -> int:
    steps = [{"type": "map", "config": {"derive": {"age_band": "CAST(age / 10 AS INT)"}}}]
    return _register_common(store, "dq_audit", _paths(inputs), steps, "accounts",
                            str(out / "dq_audit"), dq_rules(inputs.truth["columns"]))


def _dq_check(result, inputs, out, state, orch) -> str | None:
    want = inputs.truth["failed_rows"]
    got = {r["rule_name"]: r["failed_rows"] for r in result["dq"]["results"]}
    if got != want:
        bad = sorted(k for k in set(want) | set(got) if got.get(k) != want.get(k))
        return f"dq_audit failed_rows differ from planted counts for {bad}"
    if parquet_rows(str(out / "dq_audit")) != inputs.rows:
        return "dq_audit output row count differs from input"
    return None


def _backfill_register(store, inputs: Inputs, out: Path) -> int:
    root = Path(inputs.sources[0].path).parent
    return _register_common(
        store, "backfill_daily", {"events": str(root / "day={partition}")},
        BACKFILL_STEPS, "events", str(out / "backfill_daily" / "day={partition}"),
        [{"name": "user_present", "type": "not_null", "column": "user_id"}],
    )


def _backfill_operate(orch, pid: int) -> dict:
    return orch.backfill(pid, backfill_days(), resume=False)


def _backfill_check(result, inputs, out, state, orch) -> str | None:
    days = backfill_days()
    if result["failed"] or result["succeeded"] != len(days) or len(result["runs"]) != len(days):
        return f"backfill_daily sweep incomplete: {result['failed'][:1]}"
    marks = ",".join("?" for _ in result["runs"])
    runs = {r["run_id"]: r for r in orch.store.query(
        f"SELECT run_id, status, triggered_by FROM PIPELINE_RUNS WHERE run_id IN ({marks})",
        tuple(result["runs"]))}
    for run_id, day, src in zip(result["runs"], days, inputs.sources):
        rec = runs.get(run_id)
        if rec is None or rec["status"] != "SUCCESS" or not rec["triggered_by"].endswith(day):
            return f"backfill_daily partition {day} has no SUCCESS run record"
        if parquet_rows(str(out / "backfill_daily" / f"day={day}")) != src.rows:
            return f"backfill_daily partition {day} output rows differ from input"
    return None


def _curation_register(store, inputs: Inputs, out: Path) -> int:
    return _register_common(store, "curation_dedup", _paths(inputs), CURATION_STEPS, "docs",
                            str(out / "curation_dedup"), [])


def _curation_check(result, inputs, out, state, orch) -> str | None:
    t = pq.read_table(str(out / "curation_dedup"), columns=["doc_id", "split"])
    ids = frozenset(t.column("doc_id").to_pylist())
    if not ids or len(ids) != t.num_rows:
        return "curation_dedup output is empty or repeats a doc_id"
    survivors = [p for p in inputs.truth["planted_pairs"] if p[0] in ids and p[1] in ids]
    if survivors:
        return f"curation_dedup kept {len(survivors)} planted near-duplicate pairs"
    first = state.setdefault("doc_ids", ids)
    if ids != first:
        return "curation_dedup output doc-id set changed between operations"
    return None


WORKLOADS = {
    "star_etl": Workload("star_etl", generate_star, _star_register, _execute, _star_check,
                         warmup=4),
    "dq_audit": Workload("dq_audit", generate_dq, _dq_register, _execute, _dq_check,
                         warmup=3),
    "backfill_daily": Workload("backfill_daily", generate_backfill, _backfill_register,
                               _backfill_operate, _backfill_check, warmup=3),
    "curation_dedup": Workload("curation_dedup", generate_curation, _curation_register,
                               _execute, _curation_check, warmup=3),
}


def describe(inputs: Inputs) -> str:
    return (f"{len(inputs.sources)} source(s), {inputs.rows} rows, "
            f"{inputs.bytes_on_disk / 1e6:.2f} MB on disk")

