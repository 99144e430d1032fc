"""Output checks for the perfbench workloads.

* Corpus queries: the validation pass's full output against the repo's
  DuckDB oracle SQL, canonicalised as `tools/compare.py` does (columns
  by name, rows sorted, doubles rounded to 6 places, dtype kinds equal).
* dbt DAG: the user_base mart against the `ReferenceModelOracles`
  replay, run by DuckDB over the generated reference sources.
* Incremental folds: each fold's read-back aggregate and the final
  tables against the last-write-wins replay `datagen.changes` returns.

Each check returns None when the output is right, else a one-line reason.
"""
import glob
import os
import sys

import duckdb


def _compare_module(root):
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        import compare
    finally:
        sys.path.pop(0)
    return compare


def frames_differ(compare, sdf, odf):
    """The compare.py verdict on two pandas frames, or None if equal."""
    try:
        sc, sk, sr = compare.canon(sdf)
        oc, ok, orr = compare.canon(odf)
    except TypeError as e:
        return f"canon error: {e}"
    if sc != oc:
        return f"schema mismatch spark={sc} oracle={oc}"
    if sk != ok:
        return f"dtype mismatch spark={list(zip(sc, sk))} oracle={list(zip(oc, ok))}"
    if len(sr) != len(orr):
        return f"rowcount spark={len(sr)} oracle={len(orr)}"
    if sr != orr:
        bad = [(a, b) for a, b in zip(sr, orr) if a != b][:2]
        return f"value mismatch, first diffs: {bad}"
    return None


def _read_dir(con, path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet output under {path}")
    return con.execute(f"SELECT * FROM read_parquet({files!r})").df()


def _views(con, data_dir, tables):
    for t in tables:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")


def check_oracle(root, data_dir, tables, out_path, sql):
    """Spark output directory vs the oracle SQL over `tables` in data_dir."""
    compare = _compare_module(root)
    con = duckdb.connect()
    try:
        _views(con, data_dir, tables)
        sdf = _read_dir(con, out_path)
        odf = con.execute(sql).df()
        return frames_differ(compare, sdf, odf)
    except Exception as e:  # a broken output or oracle is a failed check
        return f"{type(e).__name__}: {e}"
    finally:
        con.close()


def corpus_tables(root):
    return _compare_module(root).TABLES


def _agg(state):
    """(count, sum(amount), sum(version)) of a replayed table state."""
    return (len(state), sum(v[2] for v in state.values()),
            sum(v[3] for v in state.values()))


def check_readback(readback, state):
    """A fold's read-back aggregate vs the replayed state after it."""
    if not readback:
        return "no read-back"
    n, amount, version = _agg(state)
    got_n, got_amount, got_version = readback
    if got_n != n or got_version != version:
        return f"read-back count/version {got_n}/{got_version}, replay {n}/{version}"
    if abs(got_amount - amount) > 1e-6 * max(1.0, abs(amount)):
        return f"read-back sum(amount) {got_amount}, replay {amount}"
    return None


def check_table(path, state, guarded):
    """Every live row of a folded table vs the replayed state."""
    con = duckdb.connect()
    try:
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        live = "WHERE NOT __deleted" if guarded else ""
        rows = con.execute(
            f"SELECT id, grp, status, round(amount, 2), version "
            f"FROM read_parquet({files!r}) {live}").fetchall()
    except Exception as e:
        return f"{type(e).__name__}: {e}"
    finally:
        con.close()
    got = {r[0]: (r[1], r[2], r[3], r[4]) for r in rows}
    if len(got) != len(rows):
        return f"{len(rows) - len(got)} duplicate keys"
    want = {k: (v[0], v[1], round(v[2], 2), v[3]) for k, v in state.items()}
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))[:2]
        return f"{len(set(got.items()) ^ set(want.items()))} rows differ, e.g. {diff}"
    return None


def fold_state(name, merge_states, cdc_states):
    """The replayed state a fold op named fold_<i>_<kind> should leave."""
    i = int(name.split("_")[1])
    return (cdc_states if name.endswith("guarded") else merge_states)[i // 2]
