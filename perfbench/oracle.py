"""Output checks, run after the JVM has exited (outside the timed region).

Serve lookups are compared with DuckDB over the same parquet, using the
contract entry's `SparkEntry.oracleSql` shape with the request's
parameters substituted. `check_shapes` proves each template below renders
the contract's own SQL text at the entry's default parameters, so a
template cannot drift from the contract unnoticed.

serve_write also checks that every upserted key reads back with its new
value (the whole merged table against the replayed catalogue) and that the
streamed order decisions equal the batch fold over the same request log.
Deck entries are compared with their oracle SQL.
"""
import datetime
import decimal
import hashlib
import json
import os
import re
import urllib.parse

import duckdb

# serve op → (contract entry, template, the entry's default parameters)
CASE = "CASE WHEN contains(lower(p_name),'{}') THEN 1 ELSE 0 END"


def _check_stock(query):
    w = query.lower().split()
    return f"""WITH m AS (
 SELECT p_partkey, p_name, p_size,
  CASE WHEN contains(lower(p_name), '{query.lower()}') THEN 1
       WHEN contains(lower(p_name),'{w[0]}') AND contains(lower(p_name),'{w[1]}') THEN 2
       WHEN contains(lower(p_name),'{w[0]}') THEN 3 END AS stage
 FROM part)
SELECT stage, p_partkey, p_name, p_size*10 AS stock_qty
FROM m WHERE stage = (SELECT MIN(stage) FROM m WHERE stage IS NOT NULL)
ORDER BY p_partkey LIMIT 1"""


def _product_search(terms):
    score = "\n   + ".join(CASE.format(t) for t in terms)
    return f"""SELECT p_partkey, p_name, p_retailprice, score FROM (
 SELECT p_partkey, p_name, p_retailprice,
  ({score}) AS score
 FROM part) t WHERE score >= 1
ORDER BY score DESC, p_partkey LIMIT 10"""


def _fuzzy_search(terms, max_dist=2):
    n = range(len(terms))
    dists = ",\n  ".join(f"MIN(levenshtein(tok, '{t}')) AS d{i}" for i, t in enumerate(terms))
    matched = "\n     + ".join(f"(CASE WHEN d{i}<={max_dist} THEN 1 ELSE 0 END)" for i in n)
    total = "\n     + ".join(f"(CASE WHEN d{i}<={max_dist} THEN d{i} ELSE 0 END)" for i in n)
    where = "\n    + ".join(f"(CASE WHEN d{i}<={max_dist} THEN 1 ELSE 0 END)" for i in n)
    return f"""WITH toks AS (
 SELECT p_partkey, p_name, p_retailprice, tok FROM (
  SELECT p_partkey, p_name, p_retailprice,
   unnest(string_split_regex(lower(p_name), '[^a-z]+')) AS tok
  FROM part) WHERE tok <> ''
), d AS (
 SELECT p_partkey, MIN(p_name) AS p_name,
  MIN(p_retailprice) AS p_retailprice,
  {dists}
 FROM toks GROUP BY p_partkey
)
SELECT p_partkey, p_name, p_retailprice,
 CAST({matched} AS BIGINT) AS terms_matched,
 CAST({total} AS BIGINT) AS total_dist
FROM d
WHERE {where} >= 1
ORDER BY terms_matched DESC, total_dist ASC, p_partkey LIMIT 10"""


def _product_bm25(query):
    terms = ",".join(f"'{t}'" for t in dict.fromkeys(query.lower().split(" ")))
    return f"""WITH d AS (SELECT p_partkey, p_name, string_split(lower(p_name),' ') w FROM part),
dd AS (SELECT p_partkey, p_name, CAST(len(w) AS DOUBLE) dl, w FROM d),
st AS (SELECT CAST(COUNT(*) AS DOUBLE) n,
        CAST(SUM(len(w)) AS DOUBLE)/COUNT(*) avgdl FROM d),
tf AS (SELECT p_partkey, p_name, dl, wrd, CAST(COUNT(*) AS DOUBLE) tf
       FROM (SELECT p_partkey, p_name, dl, unnest(w) wrd FROM dd) x
       WHERE wrd IN ({terms}) GROUP BY p_partkey, p_name, dl, wrd),
dfx AS (SELECT wrd, CAST(COUNT(*) AS DOUBLE) df FROM tf GROUP BY wrd),
ts AS (SELECT t.p_partkey, t.p_name,
        ROUND(ln((st.n - dfx.df + 0.5)/(dfx.df + 0.5) + 1.0)
          * (t.tf * 2.2)
          / (t.tf + 1.2 * (0.25 + 0.75 * t.dl / st.avgdl)), 6) term_score
       FROM tf t JOIN dfx ON t.wrd = dfx.wrd CROSS JOIN st)
SELECT p_partkey, p_name,
  ROUND(CAST(SUM(CAST(term_score AS DECIMAL(18,6))) AS DOUBLE), 6) AS bm25,
  COUNT(*) AS n_terms
FROM ts GROUP BY p_partkey, p_name
ORDER BY bm25 DESC, p_partkey LIMIT 10"""


def _category_search(keyword):
    return f"""SELECT p_partkey, p_name, p_type, p_retailprice FROM part
WHERE contains(lower(p_type), '{keyword}') ORDER BY p_partkey"""


def _product_by_sku(sku):
    return f"""SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
FROM part WHERE p_partkey = {int(sku)}"""


def _user_orders(custkey):
    return f"""SELECT o_orderkey, o_orderdate, o_totalprice,
 l_linenumber, l_partkey, l_quantity, l_extendedprice
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_custkey = {int(custkey)}
ORDER BY o_orderdate DESC, o_orderkey, l_linenumber"""


def _cancel_eligible(custkey):
    return f"""SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders
WHERE o_custkey = {int(custkey)} AND o_orderstatus IN ('O','P')
ORDER BY o_orderkey"""


def _cosine_topk(vec_id):
    v = int(vec_id)
    return f"""WITH e AS (SELECT vec_id, list_transform(embedding, x->CAST(x AS DOUBLE)) v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x->x*x))) nrm FROM e),
q AS (SELECT v qv, nrm qnrm FROM n WHERE vec_id={v})
SELECT vec_id,
 ROUND(list_sum(list_transform(range(1,len(v)+1), i->v[i]*qv[i]))/(nrm*qnrm),6) AS sim
FROM n, q WHERE vec_id <> {v}
ORDER BY sim DESC, vec_id LIMIT 5"""


TEMPLATES = {
    "checkStock": ("q_check_stock", lambda r: _check_stock(r["query"]), {"query": "red bolt turbo"}),
    "productSearch": ("q_product_search", lambda r: _product_search(r["terms"]), {"terms": ["red", "bolt"]}),
    "fuzzySearch": ("q_fuzzy_search", lambda r: _fuzzy_search(r["terms"]), {"terms": ["bolte", "gizmmo"]}),
    "productBm25": ("q_product_bm25", lambda r: _product_bm25(r["query"]), {"query": "red bolt"}),
    "categorySearch": ("q_category_search", lambda r: _category_search(r["keyword"]), {"keyword": "small"}),
    "productBySku": ("q_product_by_sku", lambda r: _product_by_sku(r["sku"]), {"sku": 42}),
    "userOrders": ("q_user_orders", lambda r: _user_orders(r["custkey"]), {"custkey": 42}),
    "cancelEligible": ("q_cancel_eligible", lambda r: _cancel_eligible(r["custkey"]), {"custkey": 42}),
    "cosineTopK": ("v_cosine_topk", lambda r: _cosine_topk(r["vec_id"]), {"vec_id": 0}),
}
PART_READS = {"checkStock", "productSearch", "fuzzySearch", "productBm25",
              "categorySearch", "productBySku"}


def _ws(sql):
    return re.sub(r"\s+", " ", sql).strip()


def check_shapes(oracle_sql):
    """Names of serve templates that do not render their entry's SQL."""
    return [op for op, (entry, render, defaults) in TEMPLATES.items()
            if _ws(render(defaults)) != _ws(oracle_sql.get(entry, ""))]


def norm(v):
    """A DuckDB or JSON value in the form the JVM writes it."""
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return (v - datetime.datetime(1970, 1, 1)) // datetime.timedelta(microseconds=1)
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    if isinstance(v, dict):
        return [norm(x) for x in v.values()]
    return v


def connect(sf_dir, tables):
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


class ServeChecker:
    """Replays the executed requests in order: reads are compared with the
    oracle over the catalogue as the preceding upserts left it."""

    def __init__(self, sf_dir, oracle_sql, cache_path):
        self.con = connect(sf_dir, ("orders", "lineitem", "embeddings"))
        self.con.sql(f"CREATE TABLE part AS SELECT * FROM '{sf_dir}/part.parquet'")
        self.bad_shapes = check_shapes(oracle_sql)
        self.sf_dir = sf_dir
        self.version = 0  # bumps with every upsert
        # answers over the unmodified tables hold for every run: kept on disk
        self.cache_path = cache_path
        self.cache = {}
        if os.path.exists(cache_path):
            with open(cache_path) as f:
                self.cache = json.load(f)
        self.n_cached = len(self.cache)
        self.stock = {}  # order fold state: part → remaining stock
        self.last_upsert = {}  # part key → id of the upsert that last wrote it

    def expected(self, req):
        op = req["op"]
        sql = TEMPLATES[op][1](req)
        key = hashlib.sha256((self.sf_dir + sql).encode()).hexdigest()
        if op in PART_READS and self.version > 0:  # the catalogue as upserts left it
            key = f"{key}@{self.version}"
        if key not in self.cache:
            cur = self.con.execute(sql)
            cols = [d[0] for d in cur.description]
            self.cache[key] = [cols, [norm(list(r)) for r in cur.fetchall()]]
        return self.cache[key]

    def save(self):
        keep = {k: v for k, v in self.cache.items() if "@" not in k}
        if len(keep) > self.n_cached:
            os.makedirs(os.path.dirname(self.cache_path), exist_ok=True)
            with open(self.cache_path + ".tmp", "w") as f:
                json.dump(keep, f)
            os.replace(self.cache_path + ".tmp", self.cache_path)

    def fold(self, rows):
        """Batch fold of one order batch: accept iff the quantity fits the
        stock left, in (order key, line) order."""
        out = []
        for r in sorted(rows, key=lambda r: (r["okey"], r["lineno"])):
            avail = self.stock.get(r["pk"], r["stock"])
            ok = r["qty"] <= avail
            if ok:
                avail -= r["qty"]
            self.stock[r["pk"]] = avail
            out.append([r["pk"], r["okey"], r["lineno"], r["qty"], ok, avail])
        return out

    def check(self, req, resp):
        """None when the response is right, else why it is wrong."""
        if resp["error"]:
            return "error: " + resp["error"][:300]
        op = req["op"]
        if op == "upsert":
            for row in req["rows"]:
                self.con.execute("DELETE FROM part WHERE p_partkey = ?", [row["p_partkey"]])
                self.con.execute("INSERT INTO part BY NAME SELECT * FROM (SELECT " + ", ".join(
                    f"${i + 1} AS {c}" for i, c in enumerate(row)) + ")", list(row.values()))
                self.last_upsert[row["p_partkey"]] = req["id"]
            self.version += 1
            return None
        if op == "placeOrders":
            want = sorted(self.fold(req["rows"]))
            got = sorted(resp["rows"])
            return None if got == want else f"order decisions differ: got {got[:3]} want {want[:3]}"
        if op in self.bad_shapes:
            return "template does not match the contract's oracle SQL"
        cols, rows = self.expected(req)
        if cols != resp["cols"]:
            return f"columns {resp['cols']} != {cols}"
        if rows != resp["rows"]:
            diff = next(i for i in range(max(len(rows), len(resp["rows"])))
                        if i >= len(rows) or i >= len(resp["rows"]) or rows[i] != resp["rows"][i])
            return (f"rows differ at {diff}: {len(resp['rows'])} rows vs {len(rows)} expected; "
                    f"got {resp['rows'][diff:diff + 1]} want {rows[diff:diff + 1]}")
        return None

    def table_state(self, table_dir):
        """Part keys whose merged-table row differs from the replayed
        catalogue (missing, duplicated or stale)."""
        files = self.con.sql(
            f"SELECT p_partkey, p_name, p_type, p_size, p_retailprice, filename FROM "
            f"read_parquet('{table_dir}/*/*.parquet', filename = true, hive_partitioning = false)"
        ).fetchall()
        got = [r[:1] + (urllib.parse.unquote(re.search(r"p_brand=([^/]*)", r[-1]).group(1)),) + r[1:-1]
               for r in files]
        want = self.con.sql("SELECT p_partkey, p_brand, p_name, p_type, p_size, p_retailprice "
                            "FROM part").fetchall()
        seen, dup = set(), set()
        for r in got:
            (dup if r[0] in seen else seen).add(r[0])
        return sorted({r[0] for r in set(got) ^ set(want)} | dup)


def _rows_of(con, path):
    cur = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    return [d[0] for d in cur.description], [norm(list(r)) for r in cur.fetchall()]


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted((repr([r[i] for i in order]) for r in rows))


def check_deck_entry(sf_dir, name, sql, out_dir, cache_dir):
    """None when the entry's output is right, else why it is wrong.
    Oracle answers are kept in cache_dir: the inputs are the fixed sf0.1
    tables, so they hold for every run."""
    if sql is None:
        return f"{name} has no oracle SQL"
    con = connect(sf_dir, ("region", "nation", "customer", "supplier", "part", "orders",
                           "lineitem", "events", "documents", "embeddings"))
    try:
        cols, rows = _rows_of(con, out_dir)
    except Exception as e:  # no output or unreadable output
        return f"output unreadable: {e}"
    gcols, grows = _canon(cols, rows)
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, hashlib.sha256((sf_dir + sql).encode()).hexdigest() + ".json")
    if os.path.exists(path):
        with open(path) as f:
            want = json.load(f)
    else:
        cur = con.execute(sql)
        ecols = [d[0] for d in cur.description]
        want = dict(zip(("cols", "rows"), _canon(ecols, [norm(list(r)) for r in cur.fetchall()])))
        with open(path + ".tmp", "w") as f:
            json.dump(want, f)
        os.replace(path + ".tmp", path)
    if want["cols"] != gcols:
        return f"columns {gcols} != {want['cols']}"
    if want["rows"] != grows:
        n_bad = len(set(want["rows"]) ^ set(grows))
        return f"{n_bad} rows differ ({len(grows)} rows vs {len(want['rows'])} expected)"
    return None
