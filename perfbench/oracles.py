"""Independent checks of the benchmark's outputs, run untimed after the
timed work. Each check returns a list of problems (empty = correct).

- cnj_etl: ResumoMetas is recomputed from the CSV corpus (Python's csv
  module splits lines, DuckDB aggregates) and a Python restatement of the
  reference's meta formula,
  and compared under the one-quantum rule of graft.cnj.ResultParity;
  Consolidado's row count must equal the generator's count of
  well-formed rows.
- dedup_store: each dedup query's output, from a pass after the timed
  ones, must match its registry oracle SQL run in DuckDB, by row count
  and by scripts/selfcheck.py's order-insensitive hash; every store
  round's lookup rows and change feed, and the final read, must agree
  with a last-writer-wins state derived here from the base documents and
  the logged batches.
"""
import csv
import glob
import json
import os
import re
import shutil
from decimal import ROUND_HALF_EVEN, Decimal

import duckdb
import pandas as pd


def connect():
    con = duckdb.connect()
    # the checks run after the JVM has exited: all cores, bounded memory
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    con.execute("SET memory_limit='2GB'")
    con.execute("SET enable_progress_bar=false")
    return con


# ---- cnj_etl ----------------------------------------------------------

KEY_COLS = ["sigla_tribunal", "ramo_justica"]
META1_COLS = ["julgados_2025", "casos_novos_2025", "suspensos_2025", "dessobrestados_2025"]
# (meta, julgados, distribuidos, suspensos, factor key): Versao_Np.py's table
META_SPECS = [
    ("meta2a", "julgm2_a", "distm2_a", "suspm2_a", "2a"),
    ("meta2b", "julgm2_b", "distm2_b", "suspm2_b", "2b"),
    ("meta2c", "julgm2_c", "distm2_c", "suspm2_c", "2c"),
    ("meta2ant", "julgm2_ant", "distm2_ant", "suspm2_ant", "2ant"),
    ("meta4a", "julgm4_a", "distm4_a", "suspm4_a", "4a"),
    ("meta4b", "julgm4_b", "distm4_b", "suspm4_b", "4b"),
    ("meta6", "julgm6_a", "distm6_a", "suspm6_a", "6"),
    ("meta7a", "julgm7_a", "distm7_a", "suspm7_a", "7a"),
    ("meta7b", "julgm7_b", "distm7_b", "suspm7_b", "7b"),
    ("meta8a", "julgm8_a", "distm8_a", "suspm8_a", "8a"),
    ("meta8b", "julgm8_b", "distm8_b", "suspm8_b", "8b"),
    ("meta10a", "julgm10_a", "distm10_a", "suspm10_a", "10a"),
    ("meta10b", "julgm10_b", "distm10_b", "suspm10_b", "10b"),
]
STJ_SPECS = [("meta8_stj", "julgm8", "dism8", "suspm8", "8"),
             ("meta10_stj", "julgm10", "dism10", "suspm10", "10")]
NUMERIC_COLS = META1_COLS + [c for s in META_SPECS + STJ_SPECS for c in s[1:4]]

JE = {"2a": 1000 / 8, "2b": 1000 / 9, "2c": 1000 / 9.5, "2ant": 100.0,
      "4a": 1000 / 6.5, "4b": 100.0, "6": 100.0, "7a": 1000 / 5, "7b": 1000 / 5,
      "8a": 1000 / 7.5, "8b": 1000 / 9, "10a": 1000 / 9, "10b": 1000 / 10}
FACTORS = {
    "Justiça Estadual": JE,
    "Justiça do Trabalho": {"2a": 1000 / 9.4, "2ant": 100.0, "4a": 1000 / 7, "4b": 100.0},
    "Justiça Federal": {"2a": 1000 / 8.5, "2b": 100.0, "2ant": 100.0, "4a": 1000 / 7,
                        "4b": 100.0, "6": 1000 / 3.5, "7a": 1000 / 3.5, "7b": 1000 / 3.5,
                        "8a": 1000 / 7.5, "8b": 1000 / 9, "10a": 100.0},
    "Justiça Militar da União": {"2a": 1000 / 9.5, "2b": 1000 / 9.9, "2ant": 100.0,
                                 "4a": 1000 / 9.5, "4b": 1000 / 9.9},
    "Justiça Militar Estadual": {"2a": 1000 / 9, "2b": 1000 / 9.5, "2ant": 100.0,
                                 "4a": 1000 / 9.5, "4b": 1000 / 9.9},
    "Tribunal Superior Eleitoral": {"2a": 1000 / 7.0, "2b": 1000 / 9.9, "2ant": 100.0,
                                    "4a": 1000 / 9, "4b": 1000 / 5},
    "Tribunal Superior do Trabalho": {"2a": 1000 / 8.5, "2b": 1000 / 9.9, "2ant": 100.0,
                                      "4a": 1000 / 7, "4b": 100.0},
    "Superior Tribunal de Justiça": {"2ant": 100.0, "4a": 1000 / 9, "4b": 100.0,
                                     "6": 1000 / 7.5, "7a": 1000 / 7.5, "7b": 1000 / 7.5,
                                     "8": 1000 / 10, "10": 1000 / 10},
}


def ramo_usado(ramo, sigla):
    if ramo == "Tribunais Superiores":
        return {"TST": "Tribunal Superior do Trabalho",
                "STJ": "Superior Tribunal de Justiça"}.get(sigla, ramo)
    if ramo == "Justiça Eleitoral":
        return "Tribunal Superior Eleitoral"
    return ramo


def bround2(x):
    """Half-even to 2 decimals of the shortest decimal rendering."""
    q = Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_EVEN)
    return Decimal("0.00") if q == 0 else q


def render(q):
    """DECIMAL(30,2) string with trailing zeros trimmed to one digit."""
    if q is None:
        return "NA"
    s = re.sub(r"(\.\d*?)0+$", r"\1", format(q, "f"))
    return s + "0" if s.endswith(".") else s


def ratio(sums, cnts, j, d, s, factor, extra=0.0):
    if factor is None or not (cnts[j] and cnts[d] and cnts[s]):
        return None
    den = sums[d] + extra - sums[s]
    if den == 0:
        return None
    return bround2(sums[j] / den * factor)


def resumo_rows(sums, cnts, sigla, ramo):
    used = ramo_usado(ramo, sigla)
    branch = FACTORS.get(used, {})
    out = {"sigla_tribunal": sigla, "ramo_justica": ramo}
    dess = sums["dessobrestados_2025"] if cnts["dessobrestados_2025"] else 0.0
    out["meta1"] = ratio(sums, cnts, "julgados_2025", "casos_novos_2025",
                         "suspensos_2025", 100.0, dess)
    for name, j, d, s, k in META_SPECS:
        out[name] = ratio(sums, cnts, j, d, s, branch.get(k, JE.get(k)))
    for name, j, d, s, k in STJ_SPECS:
        out[name] = ratio(sums, cnts, j, d, s, branch.get(k))
    for stj, variants in (("meta8_stj", ("meta8a", "meta8b")),
                          ("meta10_stj", ("meta10a", "meta10b"))):
        if out[stj] is not None:
            for v in variants:
                out[v] = None
    return out


def cnj_expected(corpus_dir):
    """(header, rows, well-formed row count) of the expected ResumoMetas.
    Python's RFC-4180 csv module splits the lines: the header names the
    columns and a line with any other field count is skipped. DuckDB then
    sums and counts the numeric cells that cast to DOUBLE (empty and junk
    cells are null), per court."""
    con = connect()
    clean = os.path.join(corpus_dir, "clean")
    os.makedirs(clean, exist_ok=True)
    frames = []
    for path in sorted(glob.glob(os.path.join(corpus_dir, "*.csv"))):
        with open(path, encoding="utf-8", newline="") as f:
            lines = csv.reader(f)
            header = [c.strip() for c in next(lines, [])]
            if not all(k in header for k in KEY_COLS):
                continue
            rows = [r for r in lines if len(r) == len(header)]
        out = os.path.join(clean, os.path.basename(path))
        with open(out, "w", encoding="utf-8", newline="") as f:
            csv.writer(f).writerows(rows)
        cols = ", ".join(f"'c{i}': 'VARCHAR'" for i in range(len(header)))
        pos = {c: f"c{i}" for i, c in enumerate(header)}
        aggs = [f"SUM(TRY_CAST({pos[c]} AS DOUBLE)) AS \"s_{c}\", "
                f"COUNT(TRY_CAST({pos[c]} AS DOUBLE)) AS \"n_{c}\"" for c in NUMERIC_COLS if c in pos]
        frames.append(con.execute(
            f"SELECT {pos['sigla_tribunal']} AS sigla_tribunal, {pos['ramo_justica']} AS ramo_justica, "
            f"COUNT(*) AS n_rows, {', '.join(aggs)} FROM read_csv('{out}', header=false, "
            f"auto_detect=false, delim=',', quote='\"', escape='\"', columns={{{cols}}}) "
            "GROUP BY 1, 2").fetchdf())
    shutil.rmtree(clean)
    data = pd.concat(frames, ignore_index=True)
    groups = data.groupby(KEY_COLS, dropna=False)
    sums = pd.DataFrame({c: groups[f"s_{c}"].sum(min_count=1) if f"s_{c}" in data else float("nan")
                         for c in NUMERIC_COLS})
    cnts = pd.DataFrame({c: groups[f"n_{c}"].sum() if f"n_{c}" in data else 0
                         for c in NUMERIC_COLS}).fillna(0)
    metas = ["meta1"] + sorted(m for m, *_ in META_SPECS) + sorted(m for m, *_ in STJ_SPECS)
    header = KEY_COLS + metas
    rows = []
    for key in sums.index:
        r = resumo_rows(sums.loc[key].to_dict(), cnts.loc[key].to_dict(), *key)
        rows.append([str(r[h]) if h in KEY_COLS else render(r[h]) for h in header])
    rows.sort(key=lambda r: r[0])
    return header, rows, int(data["n_rows"].sum())


def parity(got, expected, quantum=0.01):
    """graft.cnj.ResultParity.compare: (hard diffs, boundary cells, total)."""
    em = {(r[0], r[1]): r for r in expected}
    gm = {(r[0], r[1]): r for r in got}
    hard, boundary = 0, 0
    details = []
    for k, g in gm.items():
        e = em.get(k)
        if e is None:
            hard += 1
            details.append(f"got-only group {k}")
            continue
        if len(g) != len(e):
            hard += 1
            details.append(f"{k} arity {len(g)} vs {len(e)}")
        for a, b in zip(g, e):
            if a == b:
                continue
            try:
                d = abs(float(a) - float(b))
                near = quantum * 0.9999 <= d <= quantum * 1.0001
            except ValueError:
                near = False
            if near:
                boundary += 1
            else:
                hard += 1
                details.append(f"{k}: got={a} expected={b}")
    for k in em.keys() - gm.keys():
        hard += 1
        details.append(f"expected-only group {k}")
    if len(got) != len(expected) and hard == 0:
        hard += 1
    total = len(got) * (len(got[0]) if got else 0)
    return hard, boundary, total, details


def check_cnj(out_dir, expected, wellformed):
    problems = []
    resumo = glob.glob(os.path.join(out_dir, "ResumoMetas.csv", "part-*.csv"))
    if len(resumo) != 1:
        return [f"ResumoMetas.csv has {len(resumo)} part files, expected 1"]
    with open(resumo[0], encoding="utf-8", newline="") as f:
        table = list(csv.reader(f, delimiter=";"))
    header, rows = table[0], table[1:]
    if header != expected[0]:
        problems.append(f"ResumoMetas columns {header} != {expected[0]}")
    else:
        hard, boundary, total, details = parity(rows, expected[1])
        if hard or boundary > max(1, int(total * 0.001)):
            problems.append(f"ResumoMetas parity: {hard} hard, {boundary} boundary cells: "
                            + "; ".join(details[:5]))
    n = 0
    for part in glob.glob(os.path.join(out_dir, "Consolidado.csv", "part-*.csv")):
        with open(part, "rb") as f:
            lines = sum(1 for _ in f)
        n += max(0, lines - 1)
    if n != wellformed:
        problems.append(f"Consolidado has {n} rows, the generator wrote {wellformed} well-formed")
    png = os.path.join(out_dir, "grafico_meta1.png")
    with open(png, "rb") as f:
        if f.read(8) != b"\x89PNG\r\n\x1a\n":
            problems.append("grafico_meta1.png is not a PNG")
    return problems


# ---- dedup_store: dedup queries ----------------------------------------

def frame_hash(df):
    """scripts/selfcheck.py's rule: columns by name, rows sorted by every
    column, dtype-sensitive pandas hash with the index."""
    df = df.reindex(sorted(df.columns), axis=1)
    if df.shape[1]:
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return int(pd.util.hash_pandas_object(df, index=True).sum())


def register(con, input_dir):
    for t in ("documents", "embeddings"):
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")


def check_dedup(input_dir, run_dir, oracle_sql, out_rows):
    con = None
    problems = []
    for name, sql in sorted(oracle_sql.items()):
        path = os.path.join(run_dir, "out", f"{name}.parquet")
        if not os.path.isdir(path):
            problems.append(f"{name}: no output")
            continue
        got = pd.read_parquet(path)
        if con is None:
            con = connect()
            register(con, input_dir)
        exp = con.execute(sql).fetchdf()
        if sorted(got.columns) != sorted(exp.columns):
            problems.append(f"{name}: columns {sorted(got.columns)} != {sorted(exp.columns)}")
        elif len(got) != len(exp):
            problems.append(f"{name}: {len(got)} rows, oracle {len(exp)}")
        elif frame_hash(got) != frame_hash(exp):
            problems.append(f"{name}: hash differs from the oracle's")
        if out_rows.get(name, len(got)) != len(got):
            problems.append(f"{name}: counted {out_rows.get(name)} rows, read {len(got)}")
    return problems


# ---- dedup_store: corpus store -----------------------------------------

def as_rows(table, cols):
    """A logged (cols, rows) table as tuples in `cols` order."""
    at = [table["cols"].index(c) for c in cols]
    return [tuple(r[i] for i in at) for r in table["rows"]]


def check_round(rd, before, after, cols):
    """One round's lookup rows must be the probed keys' live rows in the
    last-writer-wins state after the round's batch. Its change feed,
    applied to the state before the batch, must give the state after it
    (CorpusStore.changesSince's consumer contract), except that a major
    fold may leave an empty feed: folded changes are not replayable."""
    problems = []
    s = rd["seq"]
    if rd["lookup"] is not None:
        got = sorted(as_rows(rd["lookup"], cols))
        exp = sorted(after[k] for k in set(rd["probe"]) if k in after)
        if got != exp:
            missing = sorted({r[0] for r in exp} - {r[0] for r in got})
            problems.append(f"seq {s}: lookup of {len(rd['probe'])} keys gave {len(got)} rows, "
                            f"expected {len(exp)} (missing keys {missing[:5]})")
    if rd["changes"] is not None:
        feed = as_rows(rd["changes"], cols + ["op"])
        if not (rd["kind"] == "major" and not feed):
            state = dict(before)
            for *row, op in feed:
                if op == "d":
                    state.pop(row[0], None)
                else:
                    state[row[0]] = tuple(row)
            if state != after:
                wrong = sum(1 for k in state.keys() | after.keys() if state.get(k) != after.get(k))
                problems.append(f"seq {s}: change feed of {len(feed)} rows after a "
                                f"{rd['kind']} round leaves {wrong} keys unlike the state after the batch")
    return problems


def check_store(input_dir, run_dir):
    """Every round's lookup and change feed, then the final read, against
    a last-writer-wins state derived from the base documents and the
    logged batches."""
    base = pd.read_parquet(os.path.join(input_dir, "documents.parquet"))
    cols = list(base.columns)
    state = {int(r[0]): (int(r[0]), r[1], r[2], r[3], int(r[4])) for r in base.itertuples(index=False)}
    with open(os.path.join(run_dir, "batches.jsonl"), encoding="utf-8") as f:
        batches = sorted((json.loads(line) for line in f), key=lambda b: b["seq"])
    with open(os.path.join(run_dir, "rounds.jsonl"), encoding="utf-8") as f:
        rounds = {r["seq"]: r for r in map(json.loads, f)}
    problems = []
    for b in batches:
        before = dict(state)
        # within one seq a tombstone wins over an upsert of the same key
        for row in b["upserts"]:
            state[int(row[0])] = (int(row[0]), row[1], row[2], row[3], int(row[4]))
        for k in b["deletes"]:
            state.pop(int(k), None)
        if b["seq"] not in rounds:
            problems.append(f"seq {b['seq']}: no round logged")
        else:
            problems += check_round(rounds[b["seq"]], before, state, cols)
    expected = pd.DataFrame(list(state.values()), columns=cols).astype(base.dtypes.to_dict())
    got = pd.read_parquet(os.path.join(run_dir, "out", "final.parquet"))[cols]
    if len(got) != len(expected):
        problems.append(f"final read has {len(got)} rows, last-writer-wins state has {len(expected)}")
    elif frame_hash(got) != frame_hash(expected):
        problems.append("final read differs from the last-writer-wins state")
    return problems
