"""Output check for the benchmark: compares every operation's output with
the repository's DuckDB oracle SQL run over the same generated inputs.

The comparison is the one tools/crosscheck.py applies to graft.Verify dumps:
same column names, same row count, the same dtype kind per column (int vs
float vs str ...), then cell-wise equality after sorting columns by name and
rows by value, with rtol 1e-9 / atol 1e-12 for numbers.
"""
import glob
import json
import os
import re

import duckdb
import numpy as np
import pandas as pd

INT_TYPES = {"long", "integer", "short", "byte"}
FLOAT_TYPES = {"double", "float"}


def kind(dtype):
    if pd.api.types.is_bool_dtype(dtype):
        return "bool"
    if pd.api.types.is_integer_dtype(dtype):
        return "int"
    if pd.api.types.is_float_dtype(dtype):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dtype):
        return "ts"
    return "str"


def to_frame(cols, rows):
    """The Spark result as pandas, typed the way a parquet round trip of the
    same result would be."""
    data = {}
    for i, (name, typ) in enumerate(cols):
        vals = [r[i] for r in rows]
        if typ in INT_TYPES:
            data[name] = (pd.Series(vals, dtype="int64") if None not in vals
                          else pd.Series([np.nan if v is None else float(v) for v in vals],
                                         dtype="float64"))
        elif typ in FLOAT_TYPES or typ.startswith("decimal"):
            data[name] = pd.Series([np.nan if v is None or isinstance(v, str) and v == "NaN"
                                    else float(v) for v in vals], dtype="float64")
        elif typ in ("timestamp", "timestamp_ntz"):
            data[name] = pd.to_datetime(pd.Series(vals, dtype="float64"), unit="us")
        elif typ == "boolean" and None not in vals:
            data[name] = pd.Series(vals, dtype="bool")
        else:
            data[name] = pd.Series(vals, dtype="object")
    return pd.DataFrame(data, columns=[c for c, _ in cols])


def norm(df):
    """Columns by name; rows sorted on the non-float columns first, so rows
    of keyed results line up even where two engines round a float sort key
    differently (a correlation of 1 against 0.9999999999999998)."""
    df = df[sorted(df.columns)]
    keys = [c for c in df.columns if not pd.api.types.is_float_dtype(df[c])] + \
        [c for c in df.columns if pd.api.types.is_float_dtype(df[c])]
    return df.sort_values(by=keys, kind="mergesort").reset_index(drop=True)


# Columns the program rounds to a fixed number of decimals, with that step.
# Spark rounds the shortest decimal string of a double half-up, DuckDB rounds
# the binary value, so at a tie (a shortest string ending in 5 one place
# further) the two land one step apart: 0.5203125 → 0.520313 against
# 0.520312.
ROUNDED = {"quality_score": 1e-6}

# The reference's one-pass variance, (Q - S^2/W) / (W - ddof), cancels to
# rounding residue on a group whose weighted values are all equal, often
# below zero: Spark's std is then NaN where DuckDB's sqrt raises, and two
# engines that sum in different orders can land on different sides of zero.
# The oracle's square roots are clamped at zero, and in variance columns NaN
# and any |x| <= VAR_ZERO count as one value (in standard deviation
# columns, its square root). In the columns that move in steps of 0.01 the
# residue stays below 1e-14, and a group whose values differ (weights up to
# 50) has a variance above 1e-7. The continuous price column is constant
# only on single-row groups, which both engines compute in the same order,
# to the same bits.
VAR_ZERO = 1e-12
VAR_QUERIES = {"q05_var", "q11_grouped_var"}
STD_QUERIES = {"q06_std", "q12_grouped_std"}


def spread_cols(key, cols):
    """Column -> zero threshold, for the variance and standard-deviation
    columns of the output under key."""
    kind = key.split("@")[0]
    out = {c: VAR_ZERO for c in cols if kind in VAR_QUERIES or c.startswith("var_")}
    out.update({c: VAR_ZERO ** 0.5 for c in cols if kind in STD_QUERIES or c.startswith("std_")})
    return out


def clamp_sqrt(sql):
    return re.sub(r"\bsqrt\(", "clamped_sqrt(", sql)


# Correlation has the same edge: on a group whose values are all equal, the
# variance in its denominator is rounding residue, and the cell is NULL or
# an arbitrary number depending on summation order. The oracle marks such
# cells (either variance within VAR_ZERO) in an extra column, and any value
# is accepted there.
UNDEFINED = "undefined_"
_CORR = "END AS corr"
_CORR_MARKED = (f"END AS corr, (((sxx - sx * sx / sw) / (sw - 1)) <= {VAR_ZERO} OR "
                f"((syy - sy * sy / sw) / (sw - 1)) <= {VAR_ZERO}) AS {UNDEFINED}")


def mark_undefined_corr(sql):
    return sql.replace(_CORR, _CORR_MARKED)


# The program's weighted count is never NULL: a group without a valid
# (value, weight) pair counts 0.0, as pandas sums an all-NaN mask. The
# oracle's sum over such a group (say one row whose weight is NULL) is
# NULL, so its count columns read NULL as 0.0.
COUNT_QUERIES = {"q01_count", "q08_grouped_count"}


def oracle_frame(con, key, sql, stage):
    o = (staged(con, sql) if stage else con.execute(sql)).fetchdf()
    if key.split("@")[0] in COUNT_QUERIES:
        o = o.fillna({c: 0.0 for c in o.columns if pd.api.types.is_float_dtype(o[c])})
    return o


def compare(s, o, spread={}):
    """None when equal, else a one-line reason."""
    free = None
    if UNDEFINED in o.columns:
        # rows of a corr result are unique on their key columns, so this
        # order is the one the comparison below sorts both sides into
        o = norm(o)
        free = o.pop(UNDEFINED).eq(True).to_numpy()
    if sorted(s.columns) != sorted(o.columns):
        return f"columns: spark={sorted(s.columns)} oracle={sorted(o.columns)}"
    if len(s) != len(o):
        return f"rows: spark={len(s)} oracle={len(o)}"
    bad = [f"{c}: spark={kind(s[c].dtype)} oracle={kind(o[c].dtype)}"
           for c in s.columns if kind(s[c].dtype) != kind(o[c].dtype)]
    if bad:
        return "dtype " + "; ".join(bad)
    s, o = norm(s), norm(o)
    for c in s.columns:
        sv, ov = s[c], o[c]
        if pd.api.types.is_numeric_dtype(sv) and pd.api.types.is_numeric_dtype(ov):
            a = sv.astype(float).to_numpy()
            b = ov.astype(float).to_numpy()
            close = np.isclose(a, b, rtol=1e-9, atol=1e-12) | (np.isnan(a) & np.isnan(b))
            if c in spread:
                zero = lambda v: np.isnan(v) | (np.abs(v) <= spread[c])
                close |= zero(a) & zero(b)
            if free is not None:
                close |= free
            if c in ROUNDED:
                close |= np.abs(a - b) <= ROUNDED[c] * (1 + 1e-9)
            if not close.all():
                i = int(np.argmin(close))
                return f"col {c} row {i}: spark={a[i]!r} oracle={b[i]!r}"
        else:
            eq = (sv.astype(str) == ov.astype(str)) | (sv.isna() & ov.isna())
            if not eq.all():
                i = int(np.argmin(eq.to_numpy()))
                return f"col {c} row {i}: spark={sv.iloc[i]!r} oracle={ov.iloc[i]!r}"
    return None


def connect(table_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute("CREATE MACRO clamped_sqrt(x) AS sqrt(greatest(x, 0.0))")
    for p in glob.glob(os.path.join(table_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    return con


# The q81 oracle links documents whose token sets are identical through a
# quadratic self-join and a recursive reachability walk; both are minutes at
# ten thousand documents. Equal token sets are an equivalence relation, so
# the components are exactly the groups of equal sorted token sets, and the
# label (smallest member id) is a window minimum over that group.
_EDGES = re.compile(
    r"e AS \(SELECT a\.doc_id AS src, b\.doc_id AS dst FROM tok a JOIN tok b "
    r"ON a\.doc_id <> b\.doc_id AND len\(list_intersect\(a\.s, b\.s\)\) = "
    r"len\(list_distinct\(list_concat\(a\.s, b\.s\)\)\)\), "
    r"reach\(id, r\) AS \(SELECT doc_id, doc_id FROM kept UNION SELECT e\.dst, reach\.r "
    r"FROM reach JOIN e ON e\.src = reach\.id\), "
    r"lab AS \(SELECT id AS doc_id, min\(r\) AS cluster_id FROM reach GROUP BY id\),")
_LABELS = ("lab AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY list_sort(s)) "
           "AS cluster_id FROM tok),")


def linear_components(sql):
    out, n = _EDGES.subn(_LABELS, sql)
    if n != 1:
        raise ValueError("the oracle no longer has the token-set component CTEs")
    return out


def staged(con, sql):
    """Runs `WITH [RECURSIVE] a AS (...), b AS (...) SELECT ...` one common
    table expression at a time, each into a temporary table, then the final
    SELECT: the same result as the single statement. DuckDB re-evaluates a
    common table expression at every reference, and inside a recursive one
    at every step, so the multimodal oracle's perceptual-hash chains are
    otherwise recomputed per reachability step and exhaust memory on a few
    hundred documents."""
    head = re.match(r"WITH (RECURSIVE )?", sql)
    i = start = head.end()
    depth = 0
    while True:
        ch = sql[i]
        if ch == "'":
            i = sql.index("'", i + 1)
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            rest = sql[i + 1:].lstrip()
            if depth == 0 and not rest.startswith("AS ("):
                cte = sql[start:i + 1].strip()
                name = re.match(r"\w+", cte).group(0)
                recursive = head.group(1) if re.match(r"\w+\(", cte) else ""
                con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS "
                            f"WITH {recursive}{cte} SELECT * FROM {name}")
                if not rest.startswith(","):
                    return con.execute(rest)
                i = len(sql) - len(rest)
                start = i + 1
        i += 1


TEXT_COLS = ["doc_id", "cluster_id", "quality_score", "n_tokens", "stream", "pack", "pack_id"]


def check(workload, res, outputs_path, inputs):
    """Output keys read `<query>` or `<query>@<subdirectory of inputs>`."""
    checks = res["checks"]
    attempted = failed = 0
    notes = []
    oracles = {}
    cons = {}

    def oracle(key):
        if key not in oracles:
            d = os.path.join(inputs, key.rsplit("@", 1)[1]) if "@" in key else inputs
            if workload == "weighted_analytics":
                sql = mark_undefined_corr(clamp_sqrt(checks[key]))
            else:
                sql = linear_components(checks[key])
            if d not in cons:
                cons[d] = connect(d)
            try:
                oracles[key] = oracle_frame(cons[d], key, sql,
                                            stage=workload == "corpus_curation")
            except duckdb.Error as e:
                oracles[key] = f"oracle error: {str(e).splitlines()[0]}"
        return oracles[key]

    first_media = None
    with open(outputs_path) as f:
        for line in f:
            out = json.loads(line)
            attempted += 1
            s = to_frame(out["cols"], out["rows"])
            if isinstance(oracle(out["key"]), str):
                why = oracle(out["key"])
            elif workload == "corpus_curation" and "@" in out["key"]:
                why = compare(s, oracle(out["key"]))
            elif workload == "corpus_curation":
                why = compare(s[TEXT_COLS], oracle(out["key"]))
                media = s[["doc_id", "n_images", "n_audio", "n_video"]]
                if why is None:
                    first_media = media if first_media is None else first_media
                    if not media.reset_index(drop=True).equals(first_media.reset_index(drop=True)):
                        why = "media counts differ between passes"
            else:
                why = compare(s, oracle(out["key"]), spread_cols(out["key"], s.columns))
            if why is not None:
                failed += 1
                notes.append(f"{out['key']} (op {out['op']}): {why}")
    attempted += len(res["errors"])
    failed += len(res["errors"])
    return max(attempted, 1), failed, notes

