"""Output checks of one run.

* Corpus workloads: each query's checked output is compared with the
  query's SQL oracle (`SparkEntry.oracleSql`) run in DuckDB over the same
  input tables, with the normalisation of `tools/oracle_check.py`: columns
  sorted by name, rows compared as sorted multisets, floats at full
  precision and NaN equal to NaN. Oracle results are cached per input.
* playstore_etl: each part's output is compared with facts the generator
  knows: per-app sentiment, the best-apps ratings in the file order of the
  `§`-delimited CSV, distinct and matched apps, and per-genre app counts.

Each function returns {query: None if correct, else a one-line reason}.
"""
import csv
import glob
import hashlib
import json
import math
import os

import duckdb

TABLES = ["documents", "events"]


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, list):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return repr(v)


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def _read(con, path):
    rel = con.sql(f"SELECT * FROM '{path}/*.parquet'")
    return list(rel.columns), rel.fetchall()


def _summary(cols, rows):
    """Sorted column names, row count and a digest of the normalised rows."""
    h = hashlib.sha256()
    for r in _norm_rows(cols, rows):
        h.update(repr(r).encode())
    return {"columns": sorted(cols), "rows": len(rows), "digest": h.hexdigest()}


def _oracle_summary(con, sql, key, cache_dir):
    """The oracle's summary over the run's inputs. Summaries are cached
    under a key of the SQL text and the input files' bytes, so a repeated
    input is not recomputed."""
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    rel = con.sql(sql)
    out = _summary(list(rel.columns), rel.fetchall())
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, path)
    return out


def check_oracles(data_dir, check_dir, oracle_sql, cache_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    inputs = hashlib.sha256()
    for t in TABLES:
        path = f"{data_dir}/{t}.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        with open(path, "rb") as fh:
            inputs.update(hashlib.sha256(fh.read()).digest())
    verdicts = {}
    for name, sql in sorted(oracle_sql.items()):
        path = os.path.join(check_dir, name)
        if not os.path.isdir(path):
            verdicts[name] = "no successful output to check"
            continue
        key = hashlib.sha256(inputs.digest() + sql.encode()).hexdigest()[:32]
        try:
            got = _summary(*_read(con, path))
            want = _oracle_summary(con, sql, key, cache_dir)
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            verdicts[name] = f"check raised {type(e).__name__}: {str(e)[:200]}"
            continue
        if got["columns"] != want["columns"]:
            verdicts[name] = f"columns {got['columns']} != oracle {want['columns']}"
        elif got["rows"] != want["rows"]:
            verdicts[name] = f"{got['rows']} rows != oracle {want['rows']}"
        elif got["digest"] != want["digest"]:
            verdicts[name] = "row values differ from the oracle"
        else:
            verdicts[name] = None
    return verdicts


def _best_apps_file_ratings(path):
    """Rating column of the Part 2 CSV, reading the part files in name
    order as Spark wrote them (quote `"`, escape `\\`, delimiter `§`)."""
    ratings = []
    for part in sorted(glob.glob(os.path.join(path, "part-*.csv"))):
        with open(part, encoding="utf-8", newline="") as fh:
            reader = csv.reader(fh, delimiter="§", quotechar='"', escapechar="\\",
                                doublequote=False)
            header = next(reader, None)
            if header is None:
                continue
            idx = header.index("Rating")
            ratings += [row[idx] for row in reader]
    return ratings


def check_playstore(facts, check_dir, writes_dir):
    con = duckdb.connect()
    verdicts = {}

    def table(name):
        return _read(con, os.path.join(check_dir, name))

    def verdict(name, fn):
        if not os.path.isdir(os.path.join(check_dir, name)):
            verdicts[name] = "no successful output to check"
            return
        try:
            verdicts[name] = fn()
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            verdicts[name] = f"check raised {type(e).__name__}: {str(e)[:200]}"

    def part1():
        cols, rows = table("PlayStore.part1")
        got = {r[cols.index("App")]: r[cols.index("Average_Sentiment_Polarity")]
               for r in rows}
        if len(got) != len(rows) or got != facts["sentiment"]:
            bad = [a for a in facts["sentiment"] if got.get(a) != facts["sentiment"][a]]
            return f"per-app sentiment differs for {len(bad)} apps (e.g. {bad[:1]})"
        return None

    def part2():
        cols, rows = table("PlayStore.part2")
        if len(rows) != len(facts["best_ratings"]):
            return f"{len(rows)} best-apps rows != {len(facts['best_ratings'])}"
        in_file = _best_apps_file_ratings(os.path.join(writes_dir, "best_apps"))
        if in_file != facts["best_ratings"]:
            return "best-apps CSV is not the expected Rating >= 4.0 rows in " \
                   "descending lexicographic Rating order"
        return None

    def part3():
        cols, rows = table("PlayStore.part3")
        apps = {r[cols.index("App")] for r in rows}
        if len(rows) != facts["distinct_apps"] or len(apps) != len(rows):
            return f"{len(rows)} rows / {len(apps)} apps != {facts['distinct_apps']} apps"
        return None

    def part4():
        cols, rows = table("PlayStore.part4")
        matched = sum(1 for r in rows if r[cols.index("Average_Sentiment_Polarity")] is not None)
        if len(rows) != facts["distinct_apps"] or matched != facts["matched_apps"]:
            return (f"{len(rows)} rows, {matched} with sentiment != "
                    f"{facts['distinct_apps']}, {facts['matched_apps']}")
        return None

    def part5():
        cols, rows = table("PlayStore.part5")
        got = {r[cols.index("Genre")]: r[cols.index("Count")] for r in rows}
        if got != facts["genre_counts"]:
            return "per-genre app counts differ"
        return None

    for i, fn in enumerate((part1, part2, part3, part4, part5), start=1):
        verdict(f"PlayStore.part{i}", fn)
    return verdicts
