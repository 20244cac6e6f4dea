"""Independent DuckDB recomputation of each workload's outputs, and the
per-pass output checks.

virus: the expected `topFeatures.txt` and `LIBSVMOutput.txt` are rebuilt
from the generated log files alone (DuckDB reads the text, the information
gain follows the paper's formula), so a pass is correct only if its
files are byte-equal to them.

engine: each read and each write chain's published output must equal
the result of its registered oracle SQL (`graft.SparkEntry.oracleSql`)
run by DuckDB over the generated tables, row for row and bit for bit,
floats included (the comparison of the repository's oracle gate).
"""
import decimal
import json
import math
import os
import struct

import duckdb
import numpy as np
import pandas as pd


def java_double(x):
    """`java.lang.Double.toString` for the finite values a gain can take."""
    if x == 0:
        return "0.0"
    r = repr(float(x))
    if 1e-3 <= abs(x) < 1e7:
        return r
    sign, ds, e = decimal.Decimal(r).normalize().as_tuple()
    s = "".join(map(str, ds))
    return ("-" if sign else "") + s[0] + "." + (s[1:] or "0") + "E" + str(len(ds) - 1 + e)


def round6(x):
    """Spark's `round(x, 6)` on a double: HALF_UP on the decimal string."""
    if math.isnan(x):
        return x
    return float(decimal.Decimal(repr(x)).quantize(
        decimal.Decimal("1e-6"), rounding=decimal.ROUND_HALF_UP))


def virus_expected(corpus):
    """Expected artifact bytes and corpus counts of the corpus `corpus`."""
    con = duckdb.connect()
    con.execute(f"""
      CREATE TABLE raw AS
      SELECT regexp_extract(filename, '([^/]+/[^/]+)$', 1) AS sample_id,
             CASE WHEN filename LIKE '%virus_LOGS_CONVERTED%'
                  THEN 'virus' ELSE 'clean' END AS cls,
             regexp_replace(line, '[ +-]', '', 'g') AS token
      FROM read_csv('{corpus}/*_LOGS_CONVERTED/*.txt',
                    columns={{'line': 'VARCHAR'}}, header=false,
                    delim='\\t', quote='', escape='', filename=true,
                    auto_detect=false)""")
    p, t = con.execute("""SELECT count(*) FILTER (WHERE cls = 'virus'),
        count(*) FROM (SELECT DISTINCT sample_id, cls FROM raw)""").fetchone()
    n_files = sum(len(os.listdir(os.path.join(corpus, d)))
                  for d in os.listdir(corpus))
    if t != n_files:
        raise RuntimeError(f"DuckDB read {t} of {n_files} files")
    con.execute("""CREATE TABLE dist AS SELECT DISTINCT sample_id, cls, token
                   FROM raw WHERE length(token) > 0""")
    e2 = ("CASE WHEN ({x}) > 0 AND ({x}) < ({y}) THEN "
          "-(({x})::DOUBLE/({y}) * (ln(({x})::DOUBLE/({y})) / ln(2))) - "
          "((({y})-({x}))::DOUBLE/({y}) * (ln((({y})-({x}))::DOUBLE/({y})) / ln(2))) "
          "ELSE 'NaN'::DOUBLE END")
    gain = (f"{e2.format(x='p', y='t')} - (tg::DOUBLE / t) * {e2.format(x='np', y='tg')}"
            f" - ((t - tg)::DOUBLE / t) * {e2.format(x='p - np', y='t - tg')}")
    vocab = con.execute("SELECT count(DISTINCT token) FROM dist").fetchone()[0]
    rows = con.execute(f"""
      WITH df AS (SELECT token, count(*) FILTER (WHERE cls = 'virus') AS np,
                         count(*) FILTER (WHERE cls <> 'virus') AS nn
                  FROM dist GROUP BY token)
      SELECT token, {gain} AS g FROM
        (SELECT token, np, nn, np + nn AS tg, {p}::BIGINT AS p, {t}::BIGINT AS t
         FROM df WHERE np > 0 AND nn > 0)""").fetchall()
    ranked = sorted(((0.0 if math.isnan(g) else round6(g), tok) for tok, g in rows),
                    key=lambda r: (-r[0], r[1].encode()))[:2000]
    top = "".join(f"({tok},{java_double(g)})\n" for g, tok in ranked)
    con.execute("CREATE TABLE top (token VARCHAR, fi INT)")
    con.executemany("INSERT INTO top VALUES (?, ?)",
                    [(tok, i + 1) for i, (_, tok) in enumerate(ranked)])
    lib = con.execute("""
      SELECT sample_id, CASE WHEN cls = 'virus' THEN '1' ELSE '0' END || ' ' ||
             string_agg(fi::VARCHAR || ':1', ' ' ORDER BY fi)
      FROM dist JOIN top USING (token) GROUP BY sample_id, cls""").fetchall()
    lib.sort(key=lambda r: r[0].encode())
    libsvm = "".join(r[1] + "\n" for r in lib)
    con.close()
    return {"top": top.encode(), "libsvm": libsvm.encode(),
            "n_vec": len(lib), "n_files": t, "top_gain": ranked[0][0],
            "n_kept": len(ranked), "vocab": vocab}


def _depth(node):
    kids = node.get("children")
    return 1 + (max(map(_depth, kids)) if kids else 0)


def check_virus_pass(out, exp):
    """Failures (strings) of a virus pass's outputs under `out`: the
    artifacts in `out/pass`, the cluster and SVM report in `out/report.json`."""
    bad = []
    d = f"{out}/pass"
    with open(f"{d}/topFeatures.txt", "rb") as f:
        if f.read() != exp["top"]:
            bad.append("topFeatures.txt differs from the DuckDB recomputation")
    with open(f"{d}/LIBSVMOutput.txt", "rb") as f:
        if f.read() != exp["libsvm"]:
            bad.append("LIBSVMOutput.txt differs from the DuckDB recomputation")
    with open(f"{d}/output.txt") as f:
        n_out = sum(1 for line in f if line.strip())
    if n_out != exp["n_vec"]:
        bad.append(f"output.txt has {n_out} rows, expected {exp['n_vec']}")
    with open(f"{out}/report.json") as f:
        rep = json.load(f)
    if sum(rep["cluster_counts"]) != exp["n_vec"]:
        bad.append("cluster report counts do not sum to the sample count")
    try:
        with open(f"{d}/data.json") as f:
            if _depth(json.load(f)) != 5:
                bad.append("data.json does not have 5 levels")
    except ValueError:
        bad.append("data.json does not parse")
    if len(rep["sgd"]) != 5:
        bad.append("expected 5 SGD rows")
    if not all(0.0 <= a <= 1.0 for a in rep["sgd"]):
        bad.append("an AUC lies outside [0, 1]")
    return bad


def _cell(v):
    """An object cell as a string that is equal iff the two engines' cells
    are equal bit for bit: floats by their IEEE pattern, integers by value
    whatever their width, lists element by element."""
    if v is None:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "f:NaN" if math.isnan(f) else "f:" + struct.pack(">d", f).hex()
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v}"
    if hasattr(v, "isoformat"):
        return "t:" + v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return "x:" + v.hex()
    return "s:" + str(v)


def _canonical(df):
    """(column kinds, rows sorted): every column as int64 bit patterns or
    strings, so two frames are equal iff their cells are equal bit for
    bit, floats included."""
    cols, kinds, data = sorted(df.columns), [], {}
    for c in cols:
        v = df[c].to_numpy()
        if v.dtype.kind == "f":
            v = v.astype(np.float64)
            bits = v.view(np.int64).copy()
            bits[np.isnan(v)] = 0x7FF8000000000000
            kinds.append("f")
            data[c] = bits
        elif v.dtype.kind in "iub":
            kinds.append("b" if v.dtype.kind == "b" else "i")
            data[c] = v.astype(np.int64)
        else:
            kinds.append("o")
            data[c] = [_cell(x) for x in v]
    rows = pd.DataFrame(data, columns=cols)
    if cols and len(rows):
        rows = rows.sort_values(cols, kind="stable").reset_index(drop=True)
    return list(zip(cols, kinds)), rows


def check_engine_pass(out, tables, oracle_sql):
    """Failures (strings) of an engine pass: each output saved under
    `out/check/<query>` against its oracle SQL over the tables in `tables`."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    bad = []
    for name, sql in sorted(oracle_sql.items()):
        try:
            gc, gr = _canonical(con.execute(
                f"SELECT * FROM '{out}/check/{name}/*.parquet'").df())
            ec, er = _canonical(con.execute(sql).df())
        except (duckdb.Error, OSError) as e:
            bad.append(f"{name}: {e}")
            continue
        if gc != ec:
            bad.append(f"{name}: columns {gc} != {ec}")
        elif len(gr) != len(er):
            bad.append(f"{name}: {len(gr)} rows, expected {len(er)}")
        elif not gr.equals(er):
            i = int((gr != er).any(axis=1).to_numpy().argmax())
            bad.append(f"{name}: row {i} differs: got {gr.iloc[i].tolist()}, "
                       f"expected {er.iloc[i].tolist()}")
    con.close()
    return bad
