#!/usr/bin/env python3
"""Correctness checks for one benchmark run, made after the timed window.

Every answer is computed apart from the program: NVD stores and reads
against gen_nvd's model of the reference loader's rules, query outputs
against DuckDB running the query's oracle SQL over the same parquet
tables. `check` returns a list of problems (empty = correct);
`self_test` corrupts copies of a store and of a query output and
returns a problem if the checks do not catch the corruption.
"""
import json
import os
import shutil
import sys
import time

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen_nvd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


# --- NVD store -------------------------------------------------------

STORE_COLS = ["cve_id", "summary", "config", "score", "access_vector",
              "access_complexity", "authorize", "availability_impact",
              "confidentiality_impact", "integrity_impact",
              "last_modified_datetime", "published_datetime", "urls",
              "vulnerable_software_list", "vulnerable_cpes", "score_v3",
              "severity_v3", "cwes", "cve_item", "publish_year"]


def read_store(store):
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT {', '.join(STORE_COLS)} FROM read_parquet('{store}/*/*.parquet', "
        "hive_partitioning = 1)").fetchall()
    con.close()
    return [dict(zip(STORE_COLS, r)) for r in rows]


def store_problems(store, expected, label):
    """The store holds exactly the expected rows: one row per cve_id,
    every field as the model flattens it, under its publish-year
    partition."""
    problems = []
    rows = read_store(store)
    ids = [r["cve_id"] for r in rows]
    if len(ids) != len(set(ids)):
        problems.append(f"{label}: {len(ids) - len(set(ids))} duplicate cve_id rows")
    got = {r["cve_id"]: r for r in rows}
    missing = sorted(set(expected) - set(got))
    extra = sorted(set(got) - set(expected))
    if missing:
        problems.append(f"{label}: {len(missing)} expected CVEs missing, e.g. {missing[:3]}")
    if extra:
        problems.append(f"{label}: {len(extra)} unexpected CVEs, e.g. {extra[:3]}")
    bad = 0
    for k in sorted(set(got) & set(expected)):
        want, have = gen_nvd.flat_row(expected[k]), got[k]
        diffs = [c for c in STORE_COLS if not same(c, have[c], want[c])]
        if diffs:
            if bad < 3:
                problems.append(f"{label}: {k} differs in {diffs}")
            bad += 1
    if bad > 3:
        problems.append(f"{label}: {bad} rows differ in all")
    return problems


def same(col, have, want):
    if col in ("config", "cve_item"):
        if want is None:
            return have == ""
        return have != "" and json.loads(have) == want
    if col in ("vulnerable_cpes", "cwes"):
        return list(have or []) == list(want)
    return have == want


def history_names(history):
    con = duckdb.connect()
    names = [r[0] for r in con.execute(
        f"SELECT download_name FROM read_parquet('{history}/*.parquet')").fetchall()]
    con.close()
    return names


def load_items(path):
    with open(path, encoding="utf-8") as f:
        return {it["cve"]["CVE_data_meta"]["ID"]: it for it in json.load(f)}


def check_bulk(work, res):
    inputs = os.path.join(work, "inputs")
    manifest = json.load(open(os.path.join(inputs, "manifest.json"), encoding="utf-8"))
    bulk = manifest["bulk"]
    expected = load_items(os.path.join(inputs, "expected_bulk.json"))
    problems = []
    for i, ld in enumerate(res["loads"]):
        label = f"load {i}"
        r = ld["report"]
        if r is None:
            problems.append(f"{label}: Pipeline.run threw; its store is not checked")
            continue
        problems += report_problems(label, r, 0, bulk["tally"], bulk["tally"],
                                    len(bulk["feeds"]), len(bulk["loaded_feeds"]),
                                    [bulk["corrupt_feed"]])
        problems += store_problems(ld["store"], expected, label)
        problems += corrupt_absent(ld["store"], bulk["corrupt_ids"], label)
        names = history_names(ld["history"])
        if sorted(names) != sorted(bulk["loaded_feeds"]):
            problems.append(f"{label}: update_history holds {sorted(names)}, "
                            f"expected the loaded feeds {sorted(bulk['loaded_feeds'])}")
    return problems


def report_problems(label, r, before, after, added, considered, loaded, corrupt):
    """LoadReport against the model: tally before/after, added = the
    count of new CVEs (so after = before + new), quarantined feeds."""
    want = {"before": before, "after": after, "added": added,
            "feeds_considered": considered, "feeds_loaded": loaded, "corrupt": corrupt}
    return [f"{label}: LoadReport.{k} = {r[k]}, expected {v}"
            for k, v in want.items() if r[k] != v]


def corrupt_absent(store, corrupt_ids, label):
    con = duckdb.connect()
    con.execute("CREATE TABLE ids (cve_id VARCHAR)")
    con.executemany("INSERT INTO ids VALUES (?)", [(i,) for i in corrupt_ids])
    n = con.execute(
        f"SELECT count(*) FROM read_parquet('{store}/*/*.parquet') s JOIN ids USING (cve_id)"
    ).fetchone()[0]
    con.close()
    return [f"{label}: {n} rows of the quarantined feed are in the store"] if n else []


def serve_expected(work, res):
    """The model's store after the initial load and the run's cycles."""
    inputs = os.path.join(work, "inputs")
    manifest = json.load(open(os.path.join(inputs, "manifest.json"), encoding="utf-8"))
    state = load_items(os.path.join(inputs, "expected_bulk.json"))
    for cy in res["cycles"]:
        spec = manifest["cycles"][cy["cycle"]]
        if spec["stale"]:
            with open(os.path.join(inputs, spec["dir"], "modified.json"), encoding="utf-8") as f:
                state.update(gen_nvd.last_write_wins([(0, json.load(f)["CVE_Items"])]))
    return state


def check_serve(work, res):
    inputs = os.path.join(work, "inputs")
    manifest = json.load(open(os.path.join(inputs, "manifest.json"), encoding="utf-8"))
    bulk = manifest["bulk"]
    problems = report_problems("initial load", res["initial"], 0, bulk["tally"], bulk["tally"],
                               len(bulk["feeds"]), len(bulk["loaded_feeds"]),
                               [bulk["corrupt_feed"]])
    loaded = list(bulk["loaded_feeds"])
    for cy in res["cycles"]:
        spec = manifest["cycles"][cy["cycle"]]
        label = f"cycle {cy['cycle']} ({spec['kind']})"
        if spec["stale"]:
            loaded.append("modified")
        if cy["report"] is None:
            problems.append(f"{label}: Pipeline.run threw")
        else:
            problems += report_problems(label, cy["report"], spec["tally_before"],
                                        spec["tally_after"], spec["added"], 2,
                                        1 if spec["stale"] else 0, [])
        if not spec["stale"] and cy["listing_before"] != cy["listing_after"]:
            problems.append(f"{label}: a refresh with nothing stale changed the store's files")
        for i, (rd, want) in enumerate(zip(cy["reads"], spec["reads"])):
            if rd["result"] is None:
                problems.append(f"{label}: read {i} ({rd['kind']} {want['key']}) threw")
                continue
            if rd["kind"] == "lookup":
                exp = [] if want["expected"] is None else [want["expected"]]
            else:
                exp = want["expected"]
            if rd["result"] != exp:
                problems.append(f"{label}: read {i} ({rd['kind']} {want['key']}) returned "
                                f"{str(rd['result'])[:200]}, expected {str(exp)[:200]}")
    problems += store_problems(res["store"], serve_expected(work, res), "final store")
    problems += corrupt_absent(res["store"], bulk["corrupt_ids"], "final store")
    names = history_names(res["history"])
    if sorted(names) != sorted(loaded):
        problems.append(f"update_history holds {sorted(names)}, expected {sorted(loaded)}")
    return problems


# --- query suite ----------------------------------------------------

def canon(df):
    """Rows as sorted tuples of str values, columns by name."""
    df = df[sorted(df.columns)]
    rows = [tuple(str(v) for v in r) for r in df.itertuples(index=False, name=None)]
    rows.sort()
    return rows


def suite_twins():
    """query without an oracle -> its contract twin (query_suite.txt)."""
    twins = {}
    for line in open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "query_suite.txt")):
        parts = line.split()
        if parts and not line.startswith("#") and len(parts) > 1 and parts[1].startswith("twin="):
            twins[parts[0]] = parts[1][len("twin="):]
    return twins


def check_suite(work, res, sf):
    oracle = json.load(open(os.path.join(work, "oracle.json"), encoding="utf-8"))
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    problems, expected = [], {}
    twins = suite_twins()
    names = {q["query"] for q in res["queries"]}
    for q in res["queries"]:
        name = q["query"]
        try:
            got = pd.read_parquet(q["out"])
        except Exception as e:  # a failed query left no output
            problems.append(f"{name}: output unreadable: {e}")
            continue
        if name not in oracle:
            twin = twins.get(name)
            if twin not in names or twin not in oracle:
                problems.append(f"{name}: no oracle and no oracle-checked contract twin in the suite")
            if len(got) == 0:
                problems.append(f"{name}: rows-only output is empty")
            continue
        if name not in expected:
            t0 = time.time()
            expected[name] = con.execute(oracle[name]).df()
            if time.time() - t0 > 1.0:
                print(f"[check] oracle of {name} took {time.time() - t0:.1f} s", file=sys.stderr)
        want = expected[name]
        if sorted(got.columns) != sorted(want.columns):
            problems.append(f"{name}: columns {sorted(got.columns)} != oracle {sorted(want.columns)}")
        elif len(want) == 0:
            problems.append(f"{name}: oracle result is empty (vacuous)")
        elif canon(got) != canon(want):
            problems.append(f"{name}: rows differ from the oracle "
                            f"(spark {len(got)}, oracle {len(want)})")
    con.close()
    return problems


def check(workload, work, res, sf):
    if workload == "nvd_bulk_load":
        return check_bulk(work, res)
    if workload == "nvd_refresh_serve":
        return check_serve(work, res)
    return check_suite(work, res, sf)


def report_caught(problems):
    for p in problems:
        print(f"[check] self-test caught: {p}", file=sys.stderr)


def self_test(workload, work, res, sf):
    """Corrupts a copy of the run's output and confirms the checks fail."""
    if workload == "query_suite":
        q = next(q for q in res["queries"] if q["oracle"])
        copy = q["out"] + ".corrupt"
        shutil.copytree(q["out"], copy)
        part = next(f for f in sorted(os.listdir(copy)) if f.endswith(".parquet")
                    and pq.read_metadata(os.path.join(copy, f)).num_rows > 0)
        t = pq.read_table(os.path.join(copy, part))
        pq.write_table(t.slice(1), os.path.join(copy, part))  # drop one row
        bad = dict(res, queries=[dict(q, out=copy)])
        caught = check_suite(work, bad, sf)
        report_caught(caught)
        return [] if caught else [f"self-test: a dropped row in {q['query']} went unnoticed"]
    store = res["store"] if workload == "nvd_refresh_serve" else res["loads"][-1]["store"]
    copy = store + ".corrupt"
    shutil.copytree(store, copy)
    part = sorted(d for d in os.listdir(copy) if d.startswith("publish_year="))[-1]
    pdir = os.path.join(copy, part)
    f = next(x for x in sorted(os.listdir(pdir)) if x.endswith(".parquet"))
    t = pq.read_table(os.path.join(pdir, f))
    # duplicate one row and change another's summary
    dup = t.slice(0, 1)
    summ = t.column("summary").to_pylist()
    summ[-1] = summ[-1] + " (tampered)"
    i = t.schema.get_field_index("summary")
    t = t.set_column(i, t.schema.field(i), pa.array(summ, t.schema.field(i).type))
    pq.write_table(pa.concat_tables([t, dup]), os.path.join(pdir, f))

    inputs = os.path.join(work, "inputs")
    if workload == "nvd_refresh_serve":
        expected = serve_expected(work, res)
    else:
        expected = load_items(os.path.join(inputs, "expected_bulk.json"))
    caught = store_problems(copy, expected, "self-test copy")
    shutil.rmtree(copy, ignore_errors=True)
    report_caught(caught)
    return [] if len(caught) >= 2 else [f"self-test: tampered store gave only {caught}"]
