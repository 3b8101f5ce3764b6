"""Oracle gates: every run's outputs are checked, and a gate that
cannot see a dropped row is itself a failure."""

from __future__ import annotations

import datetime
import os

_UTC = datetime.timezone.utc


def _norm_ts(v):
    if isinstance(v, datetime.datetime) and v.tzinfo is None:
        return v.replace(tzinfo=_UTC)
    return v


def table_gate(rows: list[dict], expected: dict, key_cols: tuple) -> list[str]:
    """Compare snapshot rows to the expected ``{key: row}`` map: the
    same key set, every expected column equal.  Returns up to five
    mismatch descriptions; empty means the gate passed."""
    bad: list[str] = []
    got = {tuple(r[k] for k in key_cols): r for r in rows}
    if len(got) != len(rows):
        bad.append(f"duplicate keys: {len(rows)} rows, {len(got)} keys")
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    if missing:
        bad.append(f"{len(missing)} expected rows missing, e.g. {min(missing)}")
    if extra:
        bad.append(f"{len(extra)} unexpected rows, e.g. {min(extra)}")
    for key, exp in expected.items():
        g = got.get(key)
        if g is None:
            continue
        for col, v in exp.items():
            if _norm_ts(g.get(col)) != _norm_ts(v):
                bad.append(f"{key} {col}: got {g.get(col)!r} want {v!r}")
                break
        if len(bad) >= 5:
            break
    return bad


def turn_order_gate(rows: list[dict], expected: dict) -> list[str]:
    """Per-conversation text sequence under stable turn ordering."""
    def seqs(items):
        out: dict = {}
        for (conv, turn), text in sorted(items):
            out.setdefault(conv, []).append(text)
        return out

    got = seqs(((r["conv_id"], r["turn_idx"]), r["text"]) for r in rows)
    want = seqs((k, r["text"]) for k, r in expected.items())
    diff = [c for c in want if got.get(c) != want[c]]
    diff += [c for c in got if c not in want]
    return [f"{len(diff)} conversations differ in turn text order"] if diff else []


def transcripts_gate(rows: list[dict], oracle: dict) -> list[str]:
    return (
        table_gate(rows, oracle, ("conv_id", "turn_idx"))
        + turn_order_gate(rows, oracle)
    )


def documents_gate(rows: list[dict], docs: list[dict]) -> list[str]:
    return table_gate(rows, {(d["doc_id"],): d for d in docs}, ("doc_id",))


def gate_sees_dropped_row(rows: list[dict], gate) -> bool:
    """Negative self-test: the same rows minus one must fail ``gate``."""
    return bool(rows) and bool(gate(rows[1:]))


def _value_hash():
    from BENCH.check_correctness import value_hash

    return value_hash


def duckdb_oracle(corpus_dir: str, names: list[str]) -> dict:
    """(row count, sorted value hash) of each query's DuckDB oracle
    over the corpus files."""
    import duckdb

    import __spark_entry__ as entry

    value_hash = _value_hash()
    sqls = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            p = os.path.join(corpus_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out = {}
        for name in names:
            res = con.execute(sqls[name])
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[name] = (len(rows), value_hash([(r, cols) for r in rows], cols))
        return out
    finally:
        con.close()


def query_gate(rows, cols, want: tuple) -> list[str]:
    got = (len(rows), _value_hash()(rows, cols))
    if got != want:
        return [f"rows/hash {got} != oracle {want}"]
    return []
