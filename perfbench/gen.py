"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and sizes, writes its files
under the directory it is given, and returns the ground truth it planted, so
the output checks never have to trust the engine under test.
"""
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# ----------------------------------------------------------------- star tables

_STAR_SQL = {
    "region": """
        SELECT i::INT AS r_regionkey,
               ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
        FROM range(5) t(i)""",
    "nation": """
        SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name, (i % 5)::INT AS n_regionkey
        FROM range(25) t(i)""",
    "customer": """
        SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
               (hash(i, $seed, 11) % 25)::INT AS c_nationkey,
               round((hash(i, $seed, 12) % 1099999)::DOUBLE / 100 - 999.99, 2) AS c_acctbal,
               ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']
                 [(hash(i, $seed, 13) % 5)::INT + 1] AS c_mktsegment
        FROM range($n_cust) t(i)""",
    "supplier": """
        SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
               (hash(i, $seed, 21) % 25)::INT AS s_nationkey,
               round((hash(i, $seed, 22) % 1099999)::DOUBLE / 100 - 999.99, 2) AS s_acctbal
        FROM range($n_supp) t(i)""",
    "part": """
        SELECT i AS p_partkey,
               ['large','hot','blue','small','green','red'][(hash(i, $seed, 31) % 6)::INT + 1]
                 || ' ' || ['ring','bolt','nut','gear','pipe'][(hash(i, $seed, 32) % 5)::INT + 1]
                 AS p_name,
               'Brand#' || (1 + hash(i, $seed, 33) % 25) AS p_brand,
               ['ECONOMY','LARGE','MEDIUM','PROMO','SMALL','STANDARD']
                 [(hash(i, $seed, 34) % 6)::INT + 1] AS p_type,
               (1 + hash(i, $seed, 35) % 50)::INT AS p_size,
               round(900 + (i % 20000)::DOUBLE / 10, 2) AS p_retailprice
        FROM range($n_part) t(i)""",
    "orders": """
        SELECT i AS o_orderkey,
               (hash(i, $seed, 41) % $n_cust)::BIGINT AS o_custkey,
               ['F','O','P'][(hash(i, $seed, 42) % 3)::INT + 1] AS o_orderstatus,
               round(1000 + (hash(i, $seed, 43) % 49900000)::DOUBLE / 100, 2) AS o_totalprice,
               TIMESTAMP '1995-01-01' + to_days((hash(i, $seed, 44) % 2404)::INT) AS o_orderdate,
               ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']
                 [(hash(i, $seed, 45) % 5)::INT + 1] AS o_orderpriority
        FROM range($n_orders) t(i)""",
    # 1-7 lines per order; one line in ~1000 names a part outside the part
    # table, so the orphan query has rows to find.
    "lineitem": """
        WITH l AS (
          SELECT o, ln::INT AS ln, (1 + hash(o, ln, $seed, 51) % 50)::DOUBLE AS qty
          FROM (SELECT i // 7 AS o, i % 7 + 1 AS ln FROM range($n_orders * 7) t(i))
          WHERE ln <= 1 + hash(o, $seed, 50) % 7)
        SELECT o AS l_orderkey,
               CASE WHEN hash(o, ln, $seed, 52) % 997 = 0 THEN $n_part + o
                    ELSE (hash(o, ln, $seed, 53) % $n_part)::BIGINT END AS l_partkey,
               (hash(o, ln, $seed, 54) % $n_supp)::BIGINT AS l_suppkey,
               ln AS l_linenumber,
               qty AS l_quantity,
               round(qty * (900 + (hash(o, ln, $seed, 55) % 1200)::DOUBLE), 2) AS l_extendedprice,
               (hash(o, ln, $seed, 56) % 11)::DOUBLE / 100 AS l_discount,
               (hash(o, ln, $seed, 57) % 9)::DOUBLE / 100 AS l_tax,
               ['A','N','R'][(hash(o, ln, $seed, 58) % 3)::INT + 1] AS l_returnflag,
               ['F','O'][(hash(o, ln, $seed, 59) % 2)::INT + 1] AS l_linestatus,
               TIMESTAMP '1995-01-01' + to_days((hash(o, ln, $seed, 60) % 2500)::INT) AS l_shipdate
        FROM l""",
}

STAR_TABLES = list(_STAR_SQL)


def star_tables(out_dir, seed, n_orders):
    """The TPC-H-shaped star the star queries read, at `n_orders` orders."""
    os.makedirs(out_dir, exist_ok=True)
    params = {"seed": seed, "n_orders": n_orders, "n_cust": max(50, n_orders // 10),
              "n_part": max(50, n_orders * 2 // 15), "n_supp": max(10, n_orders // 150)}
    con = duckdb.connect()
    rows = {}
    for name, sql in _STAR_SQL.items():
        for k, v in params.items():
            sql = sql.replace("$" + k, str(v))
        table = con.execute(sql).arrow()
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    con.close()
    return rows


def tables_view_sql(data_dir):
    """DuckDB statements that expose the star tables under their own names."""
    return [f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'" for t in STAR_TABLES]


# --------------------------------------------------------- dirty transactions

CATEGORIES = ["groceries", "dining", "transport", "entertainment",
              "utilities", "healthcare", "shopping", "travel"]
PAYMENTS = ["credit card", "debit card", "cash", "digital wallet"]
MERCHANTS = ["o'brien & sons no. {}", "ACME  corp {}", "d'angelo-smith 2x llc",
             "  global   mart no.{}", "corner store {}"]
# Dirt classes of a row that reaches validation. Each one fails exactly one
# rule of the transform's validation matrix; "clean" passes all of them.
DIRT = ["clean", "bad_date", "future_date", "old_date", "bad_amount",
        "neg_amount", "big_amount", "bad_user", "null_user", "bad_category",
        "bad_payment"]
DIRT_P = [0.84, 0.02, 0.015, 0.015, 0.02, 0.015, 0.01, 0.02, 0.01, 0.02, 0.015]


def _noise(r, s):
    """Whitespace/case noise the transform must normalise away (r in [0, 1))."""
    if r < 0.25:
        return "  " + s.upper()
    if r < 0.5:
        return s + "   "
    if r < 0.6:
        return s.title()
    return s


def etl_batch(path, seed, batch, n_rows):
    """One dirty 7-column CSV batch and its expected transform outcome.

    About 3% of rows repeat an earlier transaction id of the same batch later
    in file order (the keep-first dedup drops them whatever they hold); the
    rest carry one dirt class each.
    """
    rng = np.random.default_rng([seed, 7, batch])
    kinds = rng.choice(len(DIRT), size=n_rows, p=DIRT_P)
    is_dup = rng.random(n_rows) < 0.03
    is_dup[0] = False
    days = rng.integers(0, 2556, n_rows)  # 1995-01-01 .. 2001-12-30
    cents = rng.integers(1, 999999, n_rows)
    users = rng.integers(1, 5000, n_rows)
    cat_i, pay_i = rng.integers(0, 8, n_rows), rng.integers(0, 4, n_rows)
    cat_r, pay_r, dup_r = rng.random(n_rows), rng.random(n_rows), rng.random(n_rows)
    # a duplicate takes the id of a uniformly chosen earlier first occurrence
    firsts = np.cumsum(~is_dup) - 1
    idnum = np.where(is_dup, np.floor(dup_r * (firsts + 1)).astype(np.int64), firsts)
    ids = [f"TXN-{batch:03d}-{k:08d}" for k in idnum]
    dates = np.datetime_as_string(np.datetime64("1995-01-01") + days).tolist()
    amts = [f"{c // 100}.{c % 100:02d}" for c in cents.tolist()]
    uids = [str(u) for u in users.tolist()]
    cats = [_noise(r, CATEGORIES[i]) for r, i in zip(cat_r.tolist(), cat_i.tolist())]
    pays = [_noise(r, PAYMENTS[i]) for r, i in zip(pay_r.tolist(), pay_i.tolist())]
    merchs = [MERCHANTS[i % 5].format(u % 50) for i, u in enumerate(users.tolist())]
    for i in np.flatnonzero(kinds).tolist():
        k = DIRT[kinds[i]]
        if k == "bad_date":
            dates[i] = "not-a-date"
        elif k == "future_date":
            dates[i] = "2031-12-31"
        elif k == "old_date":
            dates[i] = "1989-06-15"
        elif k == "bad_amount":
            amts[i] = "abc"
        elif k == "neg_amount":
            amts[i] = "-" + amts[i]
        elif k == "big_amount":
            amts[i] = "25000.00"
        elif k == "bad_user":
            uids[i] = "12.5"
        elif k == "null_user":
            uids[i] = ""
        elif k == "bad_category":
            cats[i] = "unknown category"
        elif k == "bad_payment":
            pays[i] = "bitcoin"
    valid = int(np.sum(~is_dup & (kinds == 0)))
    dups = int(np.sum(is_dup))
    table = pa.table({"transaction_id": ids, "date": dates, "category": cats,
                      "amount": amts, "merchant": merchs, "payment_method": pays,
                      "user_id": uids})
    pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="none"))
    return {"path": path, "rows": n_rows, "bytes": os.path.getsize(path),
            "expected_valid": valid, "duplicates": dups,
            "rejected": n_rows - dups - valid}


# --------------------------------------------------------------------- corpus

_STOP = ["the", "a", "and", "of", "to", "in", "is"]
_SYL = ["ba", "ko", "ri", "ten", "lo", "mi", "sar", "vel", "nu", "dor", "pra",
        "ju", "kel", "mon", "sta", "fi", "gra", "zen", "cu", "wol"]


def _vocab():
    return [a + b for a in _SYL for b in _SYL] + [a + b + c for a in _SYL[:8]
                                                  for b in _SYL[:8] for c in _SYL[:8]]


def _text(rng, vocab, n_words):
    words = []
    for _ in range(n_words):
        if rng.random() < 0.3:
            words.append(_STOP[int(rng.integers(0, len(_STOP)))])
        else:
            words.append(vocab[int(rng.integers(0, len(vocab)))])
    return words


def corpus(out_dir, seed, n_base):
    """Documents with planted duplicate clusters plus a contaminated eval set.

    Replicas get doc_id = base id + copy * 10**7 (key-offset replication).
    Exact replicas keep the text; near replicas edit about 2% of the words.
    A few base documents embed a 16-word passage of an eval document; they
    and all their replicas must be dropped by decontamination.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 11])
    vocab = _vocab()
    evals = [_text(rng, vocab, 60) for _ in range(40)]
    base = []
    contaminated = set()
    for d in range(n_base):
        words = _text(rng, vocab, int(rng.integers(70, 140)))
        if rng.random() < 0.03:
            ev = evals[int(rng.integers(0, len(evals)))]
            at = int(rng.integers(0, 40))
            cut = int(rng.integers(0, len(words)))
            words = words[:cut] + ev[at:at + 16] + words[cut:]
            contaminated.add(d)
        base.append(words)
    ids, texts = list(range(n_base)), [" ".join(w) for w in base]
    exact_clusters = []
    for d in range(n_base):
        r = rng.random()
        if r < 0.10:
            copies = int(rng.integers(1, 4))
            exact_clusters.append([d] + [d + c * 10**7 for c in range(1, copies + 1)])
            for c in range(1, copies + 1):
                ids.append(d + c * 10**7)
                texts.append(texts[d])
                if d in contaminated:
                    contaminated.add(d + c * 10**7)
        elif r < 0.20:
            words = list(base[d])
            for j in rng.choice(len(words), size=max(1, len(words) // 50), replace=False):
                words[j] = vocab[int(rng.integers(0, len(vocab)))]
            ids.append(d + 10**7)
            texts.append(" ".join(words))
            if d in contaminated:
                contaminated.add(d + 10**7)
    order = rng.permutation(len(ids))
    ids = [ids[i] for i in order]
    texts = [texts[i] for i in order]
    docs = pa.table({
        "doc_id": pa.array(ids, pa.int64()), "text": texts,
        "lang": ["en"] * len(ids),
        "source": [f"src{i % 4}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    ev = pa.table({"doc_id": pa.array(range(len(evals)), pa.int64()),
                   "text": [" ".join(w) for w in evals]})
    pq.write_table(ev, os.path.join(out_dir, "eval.parquet"))
    return {"docs": len(ids), "bytes": os.path.getsize(os.path.join(out_dir, "documents.parquet")),
            "exact_clusters": exact_clusters, "contaminated": sorted(contaminated)}


def eval_shingles(out_dir):
    """Distinct lower-cased 3-word shingles of the eval set."""
    texts = pq.read_table(os.path.join(out_dir, "eval.parquet"), columns=["text"])
    out = set()
    for t in texts.column(0).to_pylist():
        w = t.lower().split()
        out.update(" ".join(w[i:i + 3]) for i in range(len(w) - 2))
    return out
