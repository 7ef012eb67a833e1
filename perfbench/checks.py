"""Output checks, run on a run's raw record outside the timed region.

Each returns (failed operation indexes, messages). A failed check
counts as a failed operation; a failed end-of-run or set-up check
counts against the last operation.
"""
import glob
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _final(ops, ok, msg, bad, msgs):
    if not ok:
        msgs.append(msg)
        if ops:
            bad.add(ops[-1]["index"])


def catalog_daily(raw, expected):
    """`expected[d]`: {work id: (title, first day)} after day d."""
    bad, msgs = set(), []
    for o in raw["ops"]:
        want = len(expected[o["index"]])
        if o["canonical_rows"] != want:
            bad.add(o["index"])
            msgs.append(f"day {o['index']}: {o['canonical_rows']} canonical rows, "
                        f"want {want} distinct keys")
        if o["view_scored"] != o["canonical_rows"]:
            bad.add(o["index"])
            msgs.append(f"day {o['index']}: view scored {o['view_scored']} "
                        f"of {o['canonical_rows']} rows")
    want = {f"w{w}": v for w, v in expected[raw["final_day"]].items()}
    got = {fid: (title, day) for fid, title, day in raw["final_rows"]}
    wrong = [k for k in want if got.get(k) != want[k]]
    _final(raw["ops"], not wrong and len(got) == len(want),
           f"final canonical table: {len(wrong)} works without their newest title "
           f"and earliest created_on (e.g. {wrong[:3]}), {len(got)} rows for "
           f"{len(want)} works", bad, msgs)
    return bad, msgs


DROPS = ("quality_fail", "exact_dup", "near_dup", "contaminated")


def admission_loop(raw, expected, k=10):
    """`expected`: the curation stats, the number of documents
    curation keeps, and per batch the sorted ids it must admit (its
    fresh documents; every planted copy refused)."""
    bad, msgs = set(), []
    for o in raw["ops"]:
        if sorted(o["admitted"]) != expected["admitted"][o["index"]]:
            bad.add(o["index"])
            msgs.append(f"batch {o['index']}: admitted {len(o['admitted'])} docs, want "
                        f"exactly its {len(expected['admitted'][o['index']])} fresh docs")
    for i, rows in enumerate(raw["probe_rows"]):
        if rows != k:
            bad.add(raw["ops"][i]["index"])
            msgs.append(f"probe {i + 1}: {rows} rows, want top-{k}")
    st = raw["curation_stats"]
    _final(raw["ops"], st == expected["stats"] and raw["curated_rows"] == expected["kept"] and
           st["kept"] + sum(st[d] for d in DROPS) == st["input"],
           f"curation stats {st} and {raw['curated_rows']} kept docs, want "
           f"{expected['stats']}", bad, msgs)
    warm_ok = sorted(raw["warmup_admitted"]) == expected["admitted"][0]
    admitted = len(raw["warmup_admitted"]) + sum(len(o["admitted"]) for o in raw["ops"])
    _final(raw["ops"], warm_ok and raw["digest_rows"] == expected["kept"] + admitted,
           f"digest index holds {raw['digest_rows']} rows, want {expected['kept']} "
           f"bootstrapped + {admitted} admitted (warm-up batch correct: {warm_ok})",
           bad, msgs)
    return bad, msgs


def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def _matches_oracle(con, result_file, oracle):
    cols = sorted(con.sql(f"SELECT * FROM '{result_file}'").columns)
    want_cols = sorted(con.sql(oracle).columns)
    if want_cols != cols:
        return False, f"columns {cols} vs oracle {want_cols}"
    got = con.sql(f"SELECT {', '.join(cols)} FROM '{result_file}'").fetchall()
    want = con.sql(f"SELECT {', '.join(cols)} FROM ({oracle})").fetchall()
    ok = [tuple(map(_norm, r)) for r in got] == [tuple(map(_norm, r)) for r in want]
    return ok, f"{len(got)} rows differ from the oracle's {len(want)}"


def queries(raw, results_dir, tables_dir):
    """The set-up's query results against their DuckDB oracles, by the
    rules of the program's oracle check (tools/check_oracle.py): the
    same column names, and the same rows in order with the columns
    sorted by name. A query without an oracle must return rows."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    bad, msgs = set(), []
    for q in raw.get("queries", []):
        files = glob.glob(os.path.join(results_dir, q["name"], "*.parquet"))
        got = con.sql(f"SELECT * FROM '{files[0]}'") if files else None
        if got is None or q["oracle"] is None:
            n = len(got.fetchall()) if got is not None else 0
            ok, why = n > 0, f"{n} rows"
        else:
            try:
                ok, why = _matches_oracle(con, files[0], q["oracle"])
            except duckdb.Error as e:
                ok, why = False, f"oracle error: {e}"
        _final(raw["ops"], ok, f"query {q['name']}: {why}", bad, msgs)
    return bad, msgs
