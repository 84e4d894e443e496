"""Output checks, computed apart from the program.

Each check returns a list of problems (empty = correct). They compare the
program's outputs with the generator's truth or with DuckDB running the
registry's oracle SQL, never with another run of the program.
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

import gen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# The v2 stopword vocabulary (FIXTURES.md A5): the NLTK English list,
# the single letters and the v1 job's 11 extra words.
NLTK_ENGLISH = """
i me my myself we our ours ourselves you your yours yourself yourselves he
him his himself she her hers herself it its itself they them their theirs
themselves what which who whom this that these those am is are was were be
been being have has had having do does did doing a an the and but if or
because as until while of at by for with about against between into through
during before after above below to from up down in out on off over under
again further then once here there when where why how all any both each few
more most other some such no nor not only own same so than too very can
will just don should now""".split()
V1_EXTRA = "also may could would might must shall using used use one".split()
MRC_STOPWORDS = sorted(set(NLTK_ENGLISH) | set("abcdefghijklmnopqrstuvwxyz")
                       | set(V1_EXTRA))


def check(workload, truth, result, out_dir):
    problems = []
    ok_ops = [o for o in result["ops"] if o["ok"]]
    if workload == "query_mix":
        problems += query_mix(truth, result)
    elif workload == "pubmed_keywords":
        problems += pubmed(truth, result, out_dir)
    else:
        problems += funnel(truth, result, ok_ops)
    return problems


# ---- query_mix ----------------------------------------------------------

def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def _isna(x):
    try:
        return bool(pd.isna(x))
    except (TypeError, ValueError):
        return False


def query_mix(truth, result):
    """Each materialized result against DuckDB running the query's
    oracle SQL over the same parquet, by tools/check.py's rules: columns
    sorted by name, rows sorted, exact value compare, nulls equal."""
    c = result["checks"]
    problems = ["%s: result differs between rounds" % u for u in c["unstable"]]
    oracle = c["oracle_sql"]
    sf_of = {q["name"]: q["sf_dir"] for q in truth["queries"]}
    cons = {}
    for name in c["dumped"]:
        if name not in oracle:
            problems.append("%s: no oracle SQL" % name)
            continue
        sf = sf_of[name]
        if sf not in cons:
            cons[sf] = con = duckdb.connect()
            for t in TABLES:
                con.sql("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, sf, t))
        con = cons[sf]
        files = glob.glob(os.path.join(c["dump_dir"], name, "*.parquet"))
        mine = _norm(con.sql("SELECT * FROM read_parquet(%r)" % files).df())
        try:
            ref = _oracle(con, oracle[name], sf, truth["oracle_cache"])
        except Exception as e:  # an oracle that cannot run is a failed check
            problems.append("%s: oracle SQL error: %s" % (name, e))
            continue
        if list(mine.columns) != list(ref.columns):
            problems.append("%s: columns %s vs oracle %s" % (
                name, list(mine.columns), list(ref.columns)))
            continue
        if len(mine) != len(ref):
            problems.append("%s: rows %d vs oracle %d" % (name, len(mine), len(ref)))
            continue
        for col in mine.columns:
            a, b = mine[col], ref[col]
            bad = [i for i, (x, y) in enumerate(zip(a, b))
                   if not ((_isna(x) and _isna(y)) or
                           (not _isna(x) and not _isna(y) and _eq(x, y)))]
            if bad:
                i = bad[0]
                problems.append("%s: %s[%d]: %r vs %r" % (name, col, i, a[i], b[i]))
                break
    # a result not dumped had the digest of one DuckDB confirmed before
    verified = truth["verified"]
    for name, d in c["digests"].items():
        if name not in c["dumped"] and verified.get(name) != d:
            problems.append("%s: neither dumped nor verified" % name)
    missing = set(sf_of) - set(c["digests"]) - {
        o["name"] for o in result["ops"] if not o["ok"]}
    problems += ["%s: no result" % m for m in sorted(missing)]
    return problems


def _oracle(con, sql, sf, cache_dir):
    """DuckDB's answer for one oracle query. The tables are read-only
    and the answer a pure function of the SQL and the table files, so it
    is kept under the build directory, keyed by both: some oracles take
    tens of seconds at sf0.1."""
    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        st = os.stat(os.path.join(sf, t + ".parquet"))
        h.update(("%s:%d:%d" % (t, st.st_size, st.st_mtime_ns)).encode())
    path = os.path.join(cache_dir, h.hexdigest() + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    ref = _norm(con.sql(sql).df())
    os.makedirs(cache_dir, exist_ok=True)
    ref.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return ref


def _eq(x, y):
    r = x == y
    try:
        return bool(r)
    except ValueError:  # array-valued cells
        return bool(getattr(r, "all")())


# ---- pubmed_keywords ----------------------------------------------------

def pubmed(truth, result, out_dir):
    problems = []
    c = result["checks"]
    want = {(a["pmid"], a["abstract"], a["year"], a["month"]) for a in truth}
    con = duckdb.connect()

    parsed = con.sql("SELECT pmid, abstract, year, month FROM read_json_auto(%r, "
                     "format='newline_delimited')"
                     % os.path.join(c["parsed"], "*.json")).fetchall()
    parsed = {(p, a, y, m) for p, a, y, m in parsed}
    if parsed != want:
        problems.append("parsed articles differ from the generated set "
                        "(%d vs %d, %d missing)" % (len(parsed), len(want),
                                                   len(want - parsed)))
    tokens = {a["token"]: a["pmid"] for a in truth if a["token"]}
    by_pmid = {a["pmid"]: a for a in truth}
    passes = sorted(glob.glob(os.path.join(out_dir, "pass-*")))
    if not passes:
        problems.append("no ETL pass output")
    for pdir in passes:
        tag = os.path.basename(pdir)
        nd = []
        for f in glob.glob(os.path.join(pdir, "ndjson", "year=*", "*.json")):
            year = int(os.path.basename(os.path.dirname(f))[5:])
            with open(f) as fh:
                for line in fh:
                    r = json.loads(line)
                    nd.append((r["pmid"], (r.get("medent") or {}).get("abstract"), year))
        if sorted(nd) != sorted((a["pmid"], a["abstract"], a["year"]) for a in truth):
            problems.append("%s: NDJSON articles differ from the generated set" % tag)

        v1 = os.path.join(pdir, "v1", "*.csv")
        v2 = os.path.join(pdir, "v2", "*", "*.parquet")
        con.sql("CREATE OR REPLACE VIEW v1 AS SELECT column0 AS word, "
                "CAST(column1 AS BIGINT) AS pmid FROM read_csv(%r, header=false, "
                "columns={'column0': 'VARCHAR', 'column1': 'VARCHAR'})" % v1)
        con.sql("CREATE OR REPLACE VIEW v2 AS SELECT pmid, keyword, "
                "CAST(year AS INTEGER) AS year FROM read_parquet(%r, "
                "hive_partitioning=true)" % v2)
        for name, kw in (("v1", "word"), ("v2", "keyword")):
            got = dict(con.sql("SELECT %s, list(pmid) FROM %s WHERE %s LIKE 'zq%%q' "
                               "GROUP BY 1" % (kw, name, kw)).fetchall())
            wrong = [t for t, p in tokens.items() if got.get(t) != [p]]
            extra = set(got) - set(tokens)
            if wrong or extra:
                problems.append("%s %s: %d planted tokens not exactly on their "
                                "article, %d unknown" % (tag, name, len(wrong), len(extra)))
            n, nd_ = con.sql("SELECT count(*), count(DISTINCT (pmid, %s)) FROM %s"
                             % (kw, name)).fetchone()
            if n != nd_:
                problems.append("%s %s: %d duplicate (pmid, keyword) rows" % (tag, name, n - nd_))
        golden = {w for (w,) in con.sql("SELECT word FROM v1 WHERE pmid = %d"
                                        % gen.GOLDEN_PMID).fetchall()}
        if golden != gen.GOLDEN_V1:
            problems.append("%s v1: golden article gives %s" % (tag, sorted(golden)))
        stop = con.sql("SELECT count(*) FROM v2 WHERE keyword IN (SELECT unnest(?))",
                       params=[MRC_STOPWORDS]).fetchone()[0]
        if stop:
            problems.append("%s v2: %d stopword keywords" % (tag, stop))
        years = con.sql("SELECT DISTINCT pmid, year FROM v2").fetchall()
        bad = [p for p, y in years if by_pmid.get(p, {}).get("year") != y]
        if bad:
            problems.append("%s v2: %d articles with a wrong or unknown year" % (tag, len(bad)))
    return problems


# ---- funnel_ingest ------------------------------------------------------

def funnel(truth, result, ok_ops):
    problems = []
    docs = truth["docs"]
    distinct = sorted(d["doc_id"] for d in docs if d["kind"] == "distinct")
    batch_of = {d["doc_id"]: d["batch"] for d in docs}
    con = duckdb.connect()
    for rc in result["checks"]["rounds"]:
        r = rc["round"]
        files = glob.glob(os.path.join(rc["survivors_dir"], "batch=*", "*.parquet"))
        ids = [i for (i,) in con.sql("SELECT doc_id FROM read_parquet(%r)" % files).fetchall()]
        if len(ids) != len(set(ids)):
            problems.append("round %d: doc_id not unique across survivors" % r)
        if sorted(set(ids)) != distinct:
            got = set(ids)
            kinds = {}
            for d in docs:
                if (d["doc_id"] in got) != (d["kind"] == "distinct"):
                    kinds[d["kind"]] = kinds.get(d["kind"], 0) + 1
            problems.append("round %d: survivors differ from the planted distinct "
                            "docs (wrong by kind: %s)" % (r, kinds))
        if int(round(rc["bm25_n_docs"])) != len(ids):
            problems.append("round %d: BM25 n_docs %s != %d survivors"
                            % (r, rc["bm25_n_docs"], len(ids)))
    for o in ok_ops:
        if o["kind"] == "probe":
            want = sorted(i for i in truth["term_docs"][o["term"]]
                          if batch_of[i] <= o["after_batch"])
            if sorted(o["doc_ids"]) != want:
                problems.append("round %d probe %s after batch %d: %s vs planted %s"
                                % (o["round"], o["term"], o["after_batch"],
                                   o["doc_ids"], want))
        elif o["kind"] == "batch":
            b = int(o["batch"])
            mine = [d for d in docs if d["batch"] == b]
            n_lang = sum(d["kind"] != "foreign" for d in mine)
            n_qual = sum(d["kind"] in ("distinct", "exact", "near") for d in mine)
            n_exact = sum(d["kind"] in ("distinct", "near") for d in mine)
            n_near = sum(d["kind"] == "distinct" for d in mine)
            got = (o["n_input"], o["n_lang"], o["n_quality"], o["n_exact"], o["n_near"])
            want = (len(mine), n_lang, n_qual, n_exact, n_near)
            if got != want:
                problems.append("round %d batch %d stage counts %s vs planted %s"
                                % (o["round"], b, got, want))
    return problems
