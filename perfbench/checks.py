"""Output checks, run after the timed region.

Gate workloads: each gate's output is compared with DuckDB running the
gate's `SparkEntry.oracleSql` over the same parquet tables, the way the
project's oracle sweep compares them (columns by name, rows sorted, dtype
kinds equal, exact values).

Curate: each stage's output is checked against properties the stage must
have, computed with DuckDB apart from the program.

`self_test` perturbs outputs that passed (a dropped row, a changed value,
a duplicated dedup survivor, a lost packed row) and returns the
perturbations the checks failed to report.
"""
import glob
import os

import duckdb
import pandas as pd


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    return con


def compare(got, exp):
    """None when the frames match as the oracle sweep requires, else why."""
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    cols = list(got.columns)
    g = got.sort_values(by=cols, ignore_index=True) if cols else got
    e = exp.sort_values(by=cols, ignore_index=True) if cols else exp
    for c in cols:
        a, b = g[c], e[c]
        if a.dtype.kind != b.dtype.kind:
            return f"column {c} dtype {a.dtype} vs {b.dtype}"
        eq = (a.isna() & b.isna()) | (a == b)
        if not eq.all():
            bad = int((~eq).values.argmax())
            return f"column {c} row {bad}: {a[bad]!r} vs {b[bad]!r}"
    return None


def check_gates(data_dir, oracle, outputs):
    """outputs: [(gate, path)] of operations that did not fail.
    Returns ({gate: oracle frame}, [error])."""
    con = connect(data_dir)
    expected, errors = {}, []
    for gate, path in outputs:
        if gate not in expected:
            expected[gate] = con.execute(oracle[gate]).df()
        err = compare(pd.read_parquet(path), expected[gate])
        if err:
            errors.append(f"{gate} ({path}): {err}")
    con.close()
    return expected, errors


# ---------------------------------------------------------------- curate

NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
TOKENS = "len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))"


def load_curate(round_dir, stages):
    return {s: pd.read_parquet(os.path.join(round_dir, s)) for s in stages}


def check_curate(corpus_dir, st):
    """st: {stage: DataFrame}. Returns the violated properties."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW corpus AS SELECT * FROM '{corpus_dir}/documents.parquet'")
    con.execute(f"CREATE VIEW lineage AS SELECT * FROM '{corpus_dir}/lineage.parquet'")
    for name, df in st.items():
        con.register(name, df)
    errs = []

    def one(sql):
        return con.execute(sql).fetchone()[0]

    def ids(stage):
        return set(st[stage]["doc_id"].tolist())

    if one("SELECT count(*) FROM corpus") != len(st["ingest"]):
        errs.append("ingest: row count differs from the corpus")
    bad = one(f"SELECT count(*) FROM ingest WHERE n_tokens <> {TOKENS} OR n_chars_m <> length(text)")
    if bad:
        errs.append(f"ingest: {bad} rows with wrong token or char counts")
    expect = one("SELECT count(*) FROM ingest WHERE lang_pred = lang AND length(text) BETWEEN 20 AND 100000"
                 " AND length(regexp_replace(text, '[a-zA-Z0-9\\s]+', '', 'g')) <= 0.2 * length(text)")
    if expect != len(st["quality_filter"]) or not ids("quality_filter") <= ids("ingest"):
        errs.append(f"quality_filter: {len(st['quality_filter'])} rows, expected {expect}")
    # exact dedup keeps exactly one row (the lowest id) per normalized text
    survivors = {r[0] for r in con.execute(
        f"SELECT min(doc_id) FROM quality_filter GROUP BY {NORM}").fetchall()}
    if len(st["dedup_exact"]) != len(ids("dedup_exact")) or ids("dedup_exact") != survivors:
        errs.append(f"dedup_exact: {len(st['dedup_exact'])} rows, expected the "
                    f"{len(survivors)} lowest ids per normalized text")
    # near dedup removes duplicates, never a whole lineage
    if not ids("dedup_near") <= ids("dedup_exact"):
        errs.append("dedup_near: rows not in its input")
    lost = one("SELECT count(*) FROM (SELECT DISTINCT lineage FROM dedup_exact JOIN lineage USING (doc_id)"
               " EXCEPT SELECT DISTINCT lineage FROM dedup_near JOIN lineage USING (doc_id))")
    if lost:
        errs.append(f"dedup_near: {lost} lineages lost every document")
    for a, b in (("decontaminate", "dedup_near"), ("dsir_select", "decontaminate")):
        if not ids(a) <= ids(b):
            errs.append(f"{a}: rows not in its input")
    n = len(st["decontaminate"])
    if abs(len(st["dsir_select"]) - 0.75 * n) > 1:
        errs.append(f"dsir_select: kept {len(st['dsir_select'])} of {n}, expected three quarters")
    if not ids("mix_epochs") <= ids("dsir_select"):
        errs.append("mix_epochs: documents not in its input")
    # packing keeps each input row exactly once, sequences of 2+ docs fit 512 tokens
    miss = one("SELECT count(*) FROM ((SELECT doc_id * 4 + epoch AS id FROM mix_epochs)"
               " EXCEPT ALL (SELECT id FROM pack))")
    extra = one("SELECT count(*) FROM ((SELECT id FROM pack)"
                " EXCEPT ALL (SELECT doc_id * 4 + epoch FROM mix_epochs))")
    if miss or extra:
        errs.append(f"pack: {miss} input rows missing, {extra} rows not from the input")
    bad = one(f"SELECT count(*) FROM pack p JOIN mix_epochs m ON p.id = m.doc_id * 4 + m.epoch"
              f" WHERE p.n_tokens <> len(list_filter(string_split_regex(m.text, '\\s+'), t -> t <> ''))")
    if bad:
        errs.append(f"pack: {bad} rows with wrong token counts")
    over = one("SELECT count(*) FROM (SELECT bucket, seq FROM pack GROUP BY ALL"
               " HAVING count(*) >= 2 AND sum(n_tokens) > 512)")
    if over:
        errs.append(f"pack: {over} multi-document sequences over 512 tokens")
    if one("SELECT sum(n_rows) FROM manifest") != len(st["pack"]):
        errs.append("manifest: shard row counts do not sum to the packed rows")
    con.close()
    return errs


def manifest_fingerprint(manifest):
    m = manifest.sort_values("shard", ignore_index=True)
    return [[int(s), int(r), int(f)] for s, r, f in zip(m["shard"], m["n_rows"], m["content_fp"])]


# ---------------------------------------------------------------- self-test

def _changed(df):
    df = df.copy()
    c = df.columns[0]
    v = df.at[0, c]
    if pd.api.types.is_bool_dtype(df[c]):
        df.at[0, c] = not v
    elif pd.api.types.is_numeric_dtype(df[c]):
        df.at[0, c] = (v if pd.notna(v) else 0) + 1
    else:
        df.at[0, c] = f"{v}~"
    return df


def self_test(gate_frames, corpus_dir, curate_frames):
    """gate_frames: {gate: oracle frame}; curate_frames: one round's stage
    frames, or None. Returns the perturbations that went unreported."""
    missed = []
    multi = [(g, df) for g, df in sorted(gate_frames.items()) if len(df) >= 2]
    if gate_frames and not multi:
        missed.append("no gate output with two rows to perturb")
    for g, df in multi[:1]:
        if compare(df.iloc[1:].reset_index(drop=True), df) is None:
            missed.append(f"{g}: dropped row")
        if compare(_changed(df), df) is None:
            missed.append(f"{g}: changed value")
    if curate_frames is not None:
        st = dict(curate_frames)
        st["dedup_exact"] = pd.concat([st["dedup_exact"], st["dedup_exact"].iloc[:1]],
                                      ignore_index=True)
        if not check_curate(corpus_dir, st):
            missed.append("curate: duplicated dedup_exact survivor")
        st = dict(curate_frames)
        st["pack"] = st["pack"].iloc[1:].reset_index(drop=True)
        if not check_curate(corpus_dir, st):
            missed.append("curate: lost packed row")
    return missed
