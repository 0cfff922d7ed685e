"""Output checks, run once per benchmark run and never timed.

Every check is independent of Spark: expected values come from DuckDB
over the same inputs (the registry's own oracle SQL, or SQL written here
over the raw CSVs), from a digest committed beside the benchmark, or from
a pure-Python recomputation. Each check returns ``None`` when it passes
and a one-line reason when it fails.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os

import duckdb

# --- etl_refresh -------------------------------------------------------------

RAW_TABLES = {
    "customers": "olist_customers_dataset.csv",
    "orders": "olist_orders_dataset.csv",
    "items": "olist_order_items_dataset.csv",
    "products": "olist_products_dataset.csv",
    "sellers": "olist_sellers_dataset.csv",
    "reviews": "olist_order_reviews_dataset.csv",
    "translation": "product_category_name_translation.csv",
}

_FACT = """(SELECT i.*, o.customer_id, o.order_purchase_timestamp AS ts,
                   coalesce(r.review_score, 0) AS review_score
            FROM items i JOIN orders o USING (order_id)
            LEFT JOIN reviews r USING (order_id))"""

# expected row count of each exported table, computed from the raw CSVs
EXPECTED_ROWS = {
    "dim_customer": "SELECT count(*) FROM customers",
    "dim_product": "SELECT count(*) FROM products",
    "dim_seller": "SELECT count(*) FROM sellers",
    "dim_order": "SELECT count(*) FROM orders",
    "dim_review": "SELECT count(*) FROM reviews",
    "dim_date": """SELECT floor(date_diff('second', min(order_purchase_timestamp),
                       max(order_purchase_timestamp)) / 86400) + 1 FROM orders""",
    "fact_sales": f"SELECT count(*) FROM {_FACT}",
    "agg_sales_by_date": f"""SELECT count(DISTINCT (year(ts), month(ts)))
                             FROM {_FACT}""",
    "agg_sales_by_category": """SELECT count(DISTINCT t.product_category_name_english)
        FROM items JOIN orders USING (order_id) JOIN products USING (product_id)
        JOIN translation t USING (product_category_name)""",
    "agg_sales_by_location": f"""SELECT count(DISTINCT customer_state)
                                 FROM {_FACT} JOIN customers USING (customer_id)""",
    "agg_sales_by_city": f"""SELECT count(DISTINCT (customer_state, customer_city))
                             FROM {_FACT} JOIN customers USING (customer_id)""",
    "agg_sales_by_seller": f"SELECT count(DISTINCT seller_id) FROM {_FACT}",
    "agg_review_metrics": f"SELECT count(DISTINCT review_score) FROM {_FACT}",
}

FOREIGN_KEYS = [
    ("customer_id", "dim_customer"),
    ("product_id", "dim_product"),
    ("seller_id", "dim_seller"),
    ("date_id", "dim_date"),
    ("order_id", "dim_order"),
]

MEASURES = """
SELECT CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_sales,
       CAST(SUM(CAST(freight_value AS DECIMAL(18,2))) AS DOUBLE) AS total_freight,
       COUNT(DISTINCT order_id) AS order_count,
       CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(DISTINCT order_id) AS avg_ticket,
       CAST(SUM(CAST(freight_value AS DECIMAL(18,2))) AS DOUBLE)
           / CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) * 100
           AS freight_percentage
FROM {fact}
"""


def check_export(raw_dir: str, out_dir: str) -> list[tuple[str, str | None]]:
    """Row counts of every exported table in both formats, the five
    foreign keys of fact_sales, and the five BI measures (exported Parquet
    versus the raw CSVs)."""
    con = duckdb.connect()
    try:
        for view, name in RAW_TABLES.items():
            con.execute(
                f"CREATE TABLE {view} AS SELECT * FROM "
                f"read_csv('{os.path.join(raw_dir, name)}', header=true)"
            )
        results = []
        for table, sql in EXPECTED_ROWS.items():
            want = int(con.execute(sql).fetchone()[0])
            got = {}
            for fmt, reader, ext in (("parquet", "read_parquet", "parquet"),
                                     ("csv", "read_csv", "csv")):
                files = glob.glob(os.path.join(out_dir, f"{table}_{fmt}", f"*.{ext}"))
                got[fmt] = (
                    con.execute(f"SELECT count(*) FROM {reader}({files!r})")
                    .fetchone()[0] if files else 0
                )
            bad = {f: n for f, n in got.items() if n != want}
            results.append((f"rows:{table}",
                            f"expected {want} rows, got {bad}" if bad else None))

        def parquet(table: str) -> str:
            return f"read_parquet('{os.path.join(out_dir, table + '_parquet')}/*.parquet')"

        for col, dim in FOREIGN_KEYS:
            orphans = con.execute(
                f"SELECT count(*) FROM {parquet('fact_sales')} f "
                f"ANTI JOIN {parquet(dim)} d ON f.{col} = d.id"
            ).fetchone()[0]
            results.append((f"fk:{col}",
                            f"{orphans} fact rows without a {dim} row" if orphans else None))

        exported = con.execute(MEASURES.format(fact=parquet("fact_sales"))).fetchone()
        raw = con.execute(MEASURES.format(fact=_FACT)).fetchone()
        results.append(("bi_measures",
                        None if exported == raw else f"export {exported} != raw {raw}"))
        return results
    finally:
        con.close()


# --- query_mix ---------------------------------------------------------------

def oracle_connection(data_dir: str):
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def digest(pdf) -> tuple[int, str]:
    """Row count and SHA-256 of the order-insensitive canonical rows."""
    from tests.parity import canonicalize

    rows = canonicalize(pdf)
    return len(rows), hashlib.sha256(repr(rows).encode()).hexdigest()


def check_oracle(name: str, df, con, sql: str) -> str | None:
    from tests.parity import compare

    try:
        compare(df, con, sql, name)
    except AssertionError as ex:
        return str(ex).splitlines()[0]
    return None


def check_digest(name: str, pdf, expected: dict) -> str | None:
    rows, sha = digest(pdf)
    want = expected[name]
    if (rows, sha) != (want["rows"], want["sha256"]):
        return f"digest {rows} rows {sha[:12]} != expected {want['rows']} rows {want['sha256'][:12]}"
    return None


def pagerank_law(pdf, con) -> str | None:
    """ml2: the registry's top-20 equals a pure-Python power iteration
    (damping 0.85, 8 iterations, dangling mass spread evenly) over the same
    customer -> supplier trade graph, rank for rank within 1e-12."""
    edges = con.execute(
        "SELECT DISTINCT 'c:' || o_custkey, 's:' || l_suppkey "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    ).fetchall()
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n, damping = len(nodes), 0.85
    out: dict[str, list[str]] = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    ranks = {v: 1.0 / n for v in nodes}
    for _ in range(8):
        contrib = dict.fromkeys(nodes, 0.0)
        dangling = 0.0
        for v in nodes:
            if v in out:
                share = ranks[v] / len(out[v])
                for d in out[v]:
                    contrib[d] += share
            else:
                dangling += ranks[v]
        ranks = {v: (1 - damping) / n + damping * dangling / n
                 + damping * contrib[v] for v in nodes}
    if abs(sum(ranks.values()) - 1.0) > 1e-9:
        return "rank mass not conserved"
    want = sorted(((round(r, 12), v) for v, r in ranks.items()),
                  key=lambda t: (-t[0], t[1]))[:20]
    got = dict(zip(pdf["node"], pdf["rank"]))
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for rank, node in want:
        if node not in got or abs(got[node] - rank) > 1e-12:
            return f"rank of {node}: {got.get(node)} != {rank}"
    return None


def kmeans_law(pdf, con) -> str | None:
    """ml1: cluster sizes equal a pure-Python Lloyd's run (k=4, 3
    iterations, seeded with the four lowest vec_ids, squared distance
    folded left to right and rounded half-up to 6 places)."""
    vecs = {vid: [float(x) for x in emb] for vid, emb in
            con.execute("SELECT vec_id, embedding FROM embeddings").fetchall()}
    cents = {cid: vecs[v] for cid, v in enumerate(sorted(vecs)[:4])}
    for _ in range(3):
        assign = {}
        for vid, v in vecs.items():
            best = None
            for cid in sorted(cents):
                acc = 0.0
                for a, b in zip(v, cents[cid]):
                    acc += (a - b) * (a - b)
                d2 = math.floor(acc * 1e6 + 0.5) / 1e6
                if best is None or (d2, cid) < best:
                    best = (d2, cid)
            assign[vid] = best[1]
        groups: dict[int, list[list[float]]] = {}
        for vid, cid in assign.items():
            groups.setdefault(cid, []).append(vecs[vid])
        cents = {cid: [sum(c) / len(c) for c in zip(*g)] for cid, g in groups.items()}
    want = {}
    for cid in assign.values():
        want[cid] = want.get(cid, 0) + 1
    got = {int(c): int(n) for c, n in zip(pdf["cluster_id"], pdf["n_vectors"])}
    return None if got == want else f"cluster sizes {got} != {want}"
