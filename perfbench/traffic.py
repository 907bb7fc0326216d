"""Seeded request traffic for the serve_write workload.

Everything graft receives in a serve run comes from here, derived from the
run's seed and the sf0.1 tables: the order of the op mix, the
Zipf-skewed keys, the search terms (with one-edit typos for fuzzySearch),
the product-upsert deltas (one SKU of each moving to another brand) and
the order-request batches. The same seed gives the same requests.

Where each weight comes from. The repo holds no traffic log of the
reference agent, so the shape follows its query surface (SURVEY.md §1,
README.md's map of the reference's tools) and every count that surface
does not give is an assumption:

- one `cosineTopK` per agent tool call: each agent turn retrieves the
  top 5 chunks of the reference's vector store (SURVEY.md §1, item 2)
  and then calls one tool. graft's per-request form of that retrieval
  is `VectorOps.cosineTopK`; the semantic-cache check is not a request
  here, because `VectorOps.semanticCache` takes no per-request key.
  Catalogue upserts are the admin's sync path, not an agent turn, so
  they bring no retrieval.
- one call of each of the eight read tools per block: uniform over the
  tool list. Assumed.
- three order placements (an agent tool) and three catalogue upserts
  per block, so that writes are about one request in four and a run
  measures several of each. Assumed.
- deltas of 3 SKUs with one brand move, orders of 4 lines, Zipf(1.1)
  keys over a seeded popularity order. Assumed.

Each block of requests holds exactly the counts below in a seeded
order, and the harness runs whole blocks, so two seeds differ in order,
keys and terms but not in proportions. Deltas and order batches have a
fixed size for the same reason: the window holds few writes, and their
cost follows the number of partitions a delta touches. How op_p50_ms
and ops_per_s move with the `cosineTopK` share is reported per run
(run.py, `mix_sensitivity`).
"""
import bisect
import random

import duckdb

AGENT_TOOLS = {
    "checkStock": 1, "productSearch": 1, "fuzzySearch": 1, "productBm25": 1,
    "categorySearch": 1, "productBySku": 1, "userOrders": 1, "cancelEligible": 1,
    "placeOrders": 3,
}
# one retrieval per agent tool call, plus the admin's catalogue upserts
BLOCK = {"cosineTopK": sum(AGENT_TOOLS.values()), **AGENT_TOOLS, "upsert": 3}
ZIPF_S = 1.1
PART_COLS = ("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
UPSERT_SKUS = 3
ORDER_LINES = 4


class Zipf:
    """Zipf(s) over a domain whose popularity order is a seeded shuffle."""

    def __init__(self, rng, domain, s=ZIPF_S):
        self.rng = rng
        self.keys = list(domain)
        rng.shuffle(self.keys)
        acc, self.cum = 0.0, []
        for rank in range(1, len(self.keys) + 1):
            acc += rank ** -s
            self.cum.append(acc)

    def __call__(self):
        return self.keys[bisect.bisect_left(self.cum, self.rng.random() * self.cum[-1])]


def one_edit(rng, word):
    """The word at Levenshtein distance exactly one: insert, delete or substitute."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    i = rng.randrange(len(word) + 1)
    kind = rng.choice(("insert", "delete", "substitute") if len(word) > 3 else ("insert", "substitute"))
    if kind == "insert":
        return word[:i] + rng.choice(letters) + word[i:]
    i = min(i, len(word) - 1)
    if kind == "delete":
        return word[:i] + word[i + 1:]
    return word[:i] + rng.choice([c for c in letters if c != word[i]]) + word[i + 1:]


def load_domains(sf_dir):
    con = duckdb.connect()
    part = f"'{sf_dir}/part.parquet'"
    words = [w for (w,) in con.sql(
        f"SELECT w FROM (SELECT unnest(string_split(lower(p_name), ' ')) w FROM {part}) "
        "GROUP BY w ORDER BY count(*) DESC, w").fetchall()]
    firsts = {w for (w,) in con.sql(
        f"SELECT DISTINCT split_part(lower(p_name), ' ', 1) FROM {part}").fetchall()}
    rows = con.sql(f"SELECT {', '.join(PART_COLS)} FROM {part} ORDER BY p_partkey").fetchall()
    return {
        "adjectives": [w for w in words if w in firsts],
        "nouns": [w for w in words if w not in firsts],
        "words": words,
        "brands": [b for (b,) in con.sql(f"SELECT DISTINCT p_brand FROM {part} ORDER BY 1").fetchall()],
        "types": [t for (t,) in con.sql(
            f"SELECT DISTINCT lower(p_type) FROM {part} ORDER BY 1").fetchall()],
        "parts": {r[0]: dict(zip(PART_COLS, r)) for r in rows},
        "custkeys": [k for (k,) in con.sql(
            f"SELECT DISTINCT o_custkey FROM '{sf_dir}/orders.parquet' ORDER BY 1").fetchall()],
        "vec_ids": [k for (k,) in con.sql(
            f"SELECT vec_id FROM '{sf_dir}/embeddings.parquet' ORDER BY 1").fetchall()],
        "max_orderkey": con.sql(f"SELECT max(o_orderkey) FROM '{sf_dir}/orders.parquet'").fetchone()[0],
    }


def generate(seed, n_timed, sf_dir):
    """Warm-up requests (one per op type, flagged) followed by n_timed
    requests in blocks of the mix."""
    rng = random.Random(f"serve_write:{seed}")
    dom = load_domains(sf_dir)
    part_key = Zipf(rng, dom["parts"])
    cust_key = Zipf(rng, dom["custkeys"])
    vec_key = Zipf(rng, dom["vec_ids"])
    word = Zipf(rng, dom["words"])
    state = {k: dict(v) for k, v in dom["parts"].items()}  # the catalogue as upserts leave it
    next_okey = [dom["max_orderkey"] + 1]

    def params(op):
        if op == "checkStock":
            q = [rng.choice(dom["adjectives"]), rng.choice(dom["nouns"])]
            if rng.random() < 0.3:
                q.append(word())
            return {"query": " ".join(q)}
        if op == "productSearch":
            return {"terms": sorted({word() for _ in range(rng.randint(1, 3))})}
        if op == "fuzzySearch":
            return {"terms": [one_edit(rng, word()) for _ in range(rng.randint(1, 2))]}
        if op == "productBm25":
            return {"query": " ".join(sorted({word() for _ in range(2)}))}
        if op == "categorySearch":
            t = rng.choice(dom["types"])
            return {"keyword": t if rng.random() < 0.7 else t[:rng.randint(3, len(t))]}
        if op == "productBySku":
            return {"sku": part_key()}
        if op in ("userOrders", "cancelEligible"):
            return {"custkey": cust_key()}
        if op == "cosineTopK":
            return {"vec_id": vec_key()}
        if op == "upsert":  # UPSERT_SKUS keys, one of which moves brand
            keys = set()
            while len(keys) < UPSERT_SKUS:
                keys.add(part_key())
            keys = sorted(keys)
            mover = rng.choice(keys)
            rows = []
            for k in keys:
                row = state[k]
                if rng.random() < 0.5:
                    row["p_size"] = rng.randint(1, 50)
                else:
                    row["p_retailprice"] = round(900 + rng.random() * 100, 2)
                if k == mover:  # the moved-key merge path
                    row["p_brand"] = rng.choice([b for b in dom["brands"] if b != row["p_brand"]])
                rows.append(dict(row))
            return {"rows": rows}
        if op == "placeOrders":
            okey = next_okey[0]
            next_okey[0] += 1
            rows = []
            for line in range(1, ORDER_LINES + 1):
                pk = part_key()
                rows.append({"pk": pk, "okey": okey, "lineno": line,
                             "qty": float(rng.randint(1, 50)),
                             "stock": float(dom["parts"][pk]["p_size"] * 10)})
            return {"rows": rows}
        raise ValueError(op)

    block = [op for op, n in BLOCK.items() for _ in range(n)]
    reqs = []
    for op in BLOCK:
        reqs.append({"id": len(reqs), "op": op, "warmup": True, **params(op)})
    while len(reqs) < len(BLOCK) + n_timed:
        order = list(block)
        rng.shuffle(order)
        for op in order:
            reqs.append({"id": len(reqs), "op": op, **params(op)})
    return reqs[:len(BLOCK) + n_timed]


def key_of(req):
    """The (kind, key) a request looks up, or None for unkeyed requests."""
    op = req["op"]
    if op == "productBySku":
        return ("part", req["sku"])
    if op in ("userOrders", "cancelEligible"):
        return ("customer", req["custkey"])
    if op == "cosineTopK":
        return ("vector", req["vec_id"])
    return None


def repeat_shares(reqs):
    """Share of keyed requests whose key was looked up earlier, and share
    of all requests identical (op and parameters) to an earlier one."""
    seen_keys, seen_reqs, keyed, rep_key, rep_req = set(), set(), 0, 0, 0
    for r in reqs:
        k = key_of(r)
        if k is not None:
            keyed += 1
            rep_key += k in seen_keys
            seen_keys.add(k)
        sig = repr(sorted((a, repr(b)) for a, b in r.items() if a not in ("id", "warmup")))
        rep_req += sig in seen_reqs
        seen_reqs.add(sig)
    return (rep_key / keyed if keyed else 0.0, rep_req / len(reqs) if reqs else 0.0)
