"""Corpus-regeneration resilience harness (driver-proofing).

The driver regenerated the fixture corpus once already (round 3:
timestamp physical layout changed µs↔ns) and may do so again. This
tool derives schema-compatible PERTURBED variants of a fixture dir in
scratch, so the full 305-op differential sweep (tools/verify_driver.py)
can be replayed against each variant. Any op that is secretly coupled
to row order, file/row-group layout, timestamp physical type, or
null-freedom shows up as a Spark↔DuckDB mismatch HERE, before a real
regeneration turns it into a driver CORRECTNESS failure.

Variants (all deterministic, seeded by row keys — no RNG state):
  shuffled  rows re-ordered by md5(row) and written as 3 row groups —
            order/layout independence.
  nanos     shuffled + events.ts stored as parquet TIMESTAMP(NANOS)
            (the legacy layout the io.py loader normalizes).
  nulled    shuffled + ~2%% NULLs injected into non-key value columns
            (acctbal/totalprice/quantity/value/text/props/...) —
            null-semantics parity (count(col), avg, null ordering).
  nulled_heavy
            shuffled + 25%% NULLs — dense enough to produce all-NULL
            groups/windows (SUM-of-empty, zero-weight EMA frames,
            first/last over fully-null partitions).
  unicode   shuffled + multibyte chars injected into documents.text —
            char-count vs byte-count parity (length() counts chars,
            payload len() counts bytes; Java vs utf8proc case maps).
  novel_enum
            shuffled + every 13th row of each enum-like categorical
            column replaced with 'zz_novel' — a regenerated corpus may
            widen a category domain, and any op that hardcodes an enum
            list ASYMMETRICALLY (pivot values / CASE / IN present on
            one engine side only) diverges here instead of in a driver
            round.  Symmetric hardcoding (same list in op and oracle,
            e.g. agg_pivot's explicit values) stays parity-green by
            construction — that is the contract being checked.

Usage: python tools/perturb_corpus.py <sf_dir> <variant>
Prints the variant dir (under the scratch root); then:
    python tools/verify_driver.py <variant_dir>
"""
from __future__ import annotations

import hashlib
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from lambda_hive_spark.scratch import named  # noqa: E402

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Non-key columns eligible for null injection (keys/join columns stay
# intact so FK semantics — and therefore both engines' join outputs —
# remain comparable row-for-row).
NULLABLE_VALUE_COLS = {
    "customer": ["c_acctbal", "c_mktsegment"],
    "supplier": ["s_acctbal"],
    "part": ["p_size", "p_retailprice", "p_type"],
    "orders": ["o_totalprice", "o_orderpriority"],
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    "events": ["value", "props"],
    "documents": ["text", "lang"],
    "embeddings": ["label"],
}

NULL_EVERY = 50  # ~2% of rows per column
NULL_EVERY_HEAVY = 4  # 25% — produces all-NULL groups and windows

# Enum-like categorical (non-key) columns for the novel_enum variant.
# Keys/join columns stay intact; these only feed filters, CASEs,
# pivots and group-bys, where a widened domain must behave identically
# on both engines.
ENUM_COLS = {
    "events": ["event_type"],
    "customer": ["c_mktsegment"],
    "orders": ["o_orderpriority", "o_orderstatus"],
    "part": ["p_brand", "p_type"],
    "lineitem": ["l_shipmode", "l_returnflag"],
    "documents": ["lang"],
}
NOVEL_EVERY = 13
NOVEL_TOKEN = "zz_novel"

# Injected into documents.text for the `unicode` variant: 2-byte
# (é, ß), 3-byte (中, €) and 4-byte (𝄞) UTF-8 sequences plus a
# combining mark — every byte-length class a real multilingual corpus
# carries.
UNICODE_TOKENS = ["café", "straße", "中文", "€42", "𝄞clef", "étude"]


def _row_rank(tbl: pa.Table) -> pa.Array:
    """Deterministic pseudo-random permutation rank: md5 of the first
    (key) column's string repr, salted by the row ordinal — stable
    across runs and machines, no RNG state (rows with equal keys keep
    a stable relative order via the ordinal term in the digest).
    Because the ordinal participates in the digest, the permutation is
    a function of (key values, original row order) — two tables
    permute identically only when they carry the same key column in
    the same original order (the case here: re-shuffling the same
    parquet), NOT merely the same set of keys. Fine for a row-order
    shuffle, whose only contract is determinism."""
    key = tbl.column(0).to_pylist()
    digests = [
        hashlib.md5(f"perturb|{v}|{i}".encode()).hexdigest()
        for i, v in enumerate(key)
    ]
    order = sorted(range(len(digests)), key=lambda i: digests[i])
    return pa.array(order, type=pa.int64())


def _shuffle(tbl: pa.Table) -> pa.Table:
    return tbl.take(_row_rank(tbl))


def _inject_nulls(tbl: pa.Table, cols: list[str], every: int = NULL_EVERY) -> pa.Table:
    n = tbl.num_rows
    for col in cols:
        if col not in tbl.column_names:
            continue
        idx = tbl.column_names.index(col)
        # Deterministic mask: md5(col, row-ordinal) — independent of
        # the value, so both engines see the same holes.
        mask = pa.array(
            [
                int(hashlib.md5(f"null|{col}|{i}".encode()).hexdigest(), 16)
                % every == 0
                for i in range(n)
            ]
        )
        arr = tbl.column(idx).combine_chunks()
        nulled = pc.if_else(mask, pa.scalar(None, type=arr.type), arr)
        tbl = tbl.set_column(idx, tbl.field(idx), nulled)
    return tbl


def _inject_novel_enum(tbl: pa.Table, cols: list[str]) -> pa.Table:
    """Replace every NOVEL_EVERY-th non-null value of each enum column
    with NOVEL_TOKEN (deterministic mask, same scheme as _inject_nulls
    so both engines see identical data)."""
    n = tbl.num_rows
    for col in cols:
        if col not in tbl.column_names:
            continue
        idx = tbl.column_names.index(col)
        mask = pa.array(
            [
                int(hashlib.md5(f"novel|{col}|{i}".encode()).hexdigest(), 16)
                % NOVEL_EVERY == 0
                for i in range(n)
            ]
        )
        arr = tbl.column(idx).combine_chunks()
        # keep NULLs as NULLs: only non-null masked slots get the token
        novel = pc.if_else(
            pc.and_(mask, pc.is_valid(arr)), pa.scalar(NOVEL_TOKEN, type=arr.type), arr
        )
        tbl = tbl.set_column(idx, tbl.field(idx), novel)
    return tbl


def _inject_unicode(tbl: pa.Table) -> pa.Table:
    """Swap every 3rd document's text for a copy whose first tokens are
    replaced by multibyte strings (deterministic by row ordinal)."""
    idx = tbl.column_names.index("text")
    texts = tbl.column(idx).to_pylist()
    out = []
    for i, t in enumerate(texts):
        if t is None or i % 3:
            out.append(t)
            continue
        toks = t.split(" ")
        for j in range(min(3, len(toks))):
            toks[j] = UNICODE_TOKENS[(i + j) % len(UNICODE_TOKENS)]
        out.append(" ".join(toks))
    return tbl.set_column(idx, tbl.field(idx), pa.array(out, type=pa.string()))


ZIPF_HOT_MOD = 10
ZIPF_HOT_LT = 3  # md5 % 10 < 3 → ~30% of rows carry the hot key


def _inject_zipf(tbl: pa.Table, name: str) -> pa.Table:
    """Zipfian hot-key variant (VERDICT r6 item 3): ~30% of events
    collapse onto ONE existing user_id (and one timestamp → one hot
    date), and ~30% of lineitems onto ONE existing l_orderkey. The
    skewed column values are EXISTING domain values, so FK semantics
    hold (the hot order still exists in orders; the hot user is a
    real user) — only the distribution changes. Every shuffle keyed
    on user_id / l_orderkey now has a partition carrying ~30% of the
    table: the top real-world scale-killer. Ops must stay
    Spark↔DuckDB parity-green under it (both engines read the same
    perturbed parquet), and must not OOM or stall on the hot key —
    the mechanism tests (salting, AQE skew split) get their A/B in
    `git show cb260b8:tools/skew_ab.py`."""
    hot_cols = {
        "events": [("user_id", True), ("ts", False)],
        "lineitem": [("l_orderkey", True)],
    }.get(name)
    if not hot_cols:
        return tbl
    n = tbl.num_rows
    mask = pa.array(
        [
            int(hashlib.md5(f"zipf|{name}|{i}".encode()).hexdigest(), 16)
            % ZIPF_HOT_MOD < ZIPF_HOT_LT
            for i in range(n)
        ]
    )
    for col, _is_key in hot_cols:
        idx = tbl.column_names.index(col)
        arr = tbl.column(idx).combine_chunks()
        hot = pc.min(arr)  # an existing domain value, deterministic
        tbl = tbl.set_column(
            idx, tbl.field(idx), pc.if_else(mask, hot, arr)
        )
    return tbl


def _inject_empty_text(tbl: pa.Table) -> pa.Table:
    """Replace every 7th document's text with '' and every 11th with a
    single token (deterministic by row ordinal). Targets the
    sequence(start > stop) bug class (ADVICE r4): empty / one-token
    texts drive chunk- and n-gram expansions to their zero-length
    branch, where Spark's step inference diverges from
    generate_series unless the op guards it."""
    idx = tbl.column_names.index("text")
    texts = tbl.column(idx).to_pylist()
    out = []
    for i, t in enumerate(texts):
        if t is None:
            out.append(t)
        elif i % 7 == 0:
            out.append("")
        elif i % 11 == 0:
            out.append(t.split(" ")[0])
        else:
            out.append(t)
    return tbl.set_column(idx, tbl.field(idx), pa.array(out, type=pa.string()))


def build(sf_dir: str, variant: str) -> str:
    out_dir = named(f"perturb_{variant}_{os.path.basename(sf_dir.rstrip('/'))}")
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        src = os.path.join(sf_dir, f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        tbl = pq.read_table(src)
        tbl = _shuffle(tbl)
        kwargs: dict = {}
        if variant == "nanos" and name == "events":
            idx = tbl.column_names.index("ts")
            tbl = tbl.set_column(
                idx, pa.field("ts", pa.timestamp("ns")),
                tbl.column(idx).cast(pa.timestamp("ns")),
            )
            # version 2.6 + no coercion → physical TIMESTAMP(NANOS)
            kwargs = {"coerce_timestamps": None, "version": "2.6"}
        if variant == "nulled":
            tbl = _inject_nulls(tbl, NULLABLE_VALUE_COLS.get(name, []))
        if variant == "nulled_heavy":
            tbl = _inject_nulls(
                tbl, NULLABLE_VALUE_COLS.get(name, []), NULL_EVERY_HEAVY
            )
        if variant == "unicode" and name == "documents":
            tbl = _inject_unicode(tbl)
        if variant == "novel_enum":
            tbl = _inject_novel_enum(tbl, ENUM_COLS.get(name, []))
        if variant == "empty_text" and name == "documents":
            tbl = _inject_empty_text(tbl)
        if variant == "zipf":
            tbl = _inject_zipf(tbl, name)
        if variant == "colshuffle":
            # Reverse the physical column order (schema-compatible: same
            # names/types). Ops select by NAME on both engines, so a
            # regenerated corpus with different column order must be a
            # no-op; positional access anywhere would fail here.
            tbl = tbl.select(list(reversed(tbl.column_names)))
        rg = max(1, tbl.num_rows // 3)  # 3 row groups → parallel scan shape
        pq.write_table(tbl, dst, row_group_size=rg, **kwargs)
    return out_dir


if __name__ == "__main__":
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    variant = sys.argv[2] if len(sys.argv) > 2 else "shuffled"
    print(build(sf_dir, variant))
