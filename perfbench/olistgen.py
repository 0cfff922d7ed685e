"""Seeded Olist CSV generator for the ``etl_refresh`` workload.

Writes the seven raw tables under the file names
``sources.olist.FILENAMES`` expects, one plain CSV file each. The same
seed always gives byte-identical files. Row counts are a fixed fraction
of the public Kaggle Olist dump (99,441 customers and orders, 112,650
order items, 32,951 products, 3,095 sellers), so every seed exercises the
same plan shapes at the same size.

The generator is numpy-only and never touches Spark: the program under
test receives only the finished CSV files.
"""

from __future__ import annotations

import csv
import os

import numpy as np

OLIST_SIZES = {
    "customers": 99_441,
    "orders": 99_441,
    "order_items": 112_650,
    "products": 32_951,
    "sellers": 3_095,
}

FILENAMES = {
    "customers": "olist_customers_dataset.csv",
    "orders": "olist_orders_dataset.csv",
    "order_items": "olist_order_items_dataset.csv",
    "products": "olist_products_dataset.csv",
    "sellers": "olist_sellers_dataset.csv",
    "reviews": "olist_order_reviews_dataset.csv",
    "category_translation": "product_category_name_translation.csv",
}

CITIES = [
    ("sao paulo", "SP"), ("rio de janeiro", "RJ"), ("belo horizonte", "MG"),
    ("brasilia", "DF"), ("curitiba", "PR"), ("campinas", "SP"),
    ("porto alegre", "RS"), ("salvador", "BA"), ("guarulhos", "SP"),
    ("niteroi", "RJ"), ("goiania", "GO"), ("recife", "PE"),
]
CATEGORIES = {
    "cama_mesa_banho": "bed_bath_table", "beleza_saude": "health_beauty",
    "esporte_lazer": "sports_leisure", "moveis_decoracao": "furniture_decor",
    "informatica_acessorios": "computers_accessories",
    "utilidades_domesticas": "housewares", "relogios_presentes": "watches_gifts",
    "telefonia": "telephony", "ferramentas_jardim": "garden_tools",
    "automotivo": "auto", "brinquedos": "toys", "cool_stuff": "cool_stuff",
    "perfumaria": "perfumery", "bebes": "baby", "eletronicos": "electronics",
}
STATUSES = ["delivered", "shipped", "canceled", "invoiced", "processing"]
STATUS_P = [0.90, 0.04, 0.03, 0.02, 0.01]

DAY = 86_400
# 2017-01-01T00:00:00Z. The first order is placed exactly at this instant:
# dim_date strides whole days from the earliest purchase time, so a
# midnight minimum guarantees every purchase date has a dim_date row.
T0 = 1_483_228_800
SPAN = 2 * 365 * DAY


def sizes(scale: float) -> dict[str, int]:
    return {k: max(1, round(v * scale)) for k, v in OLIST_SIZES.items()}


def _ts(secs: np.ndarray) -> np.ndarray:
    s = np.datetime_as_string(secs.astype("datetime64[s]"), unit="s")
    return np.char.replace(s, "T", " ")


def _blank(values: np.ndarray, mask: np.ndarray) -> list:
    out = values.tolist()
    for i in np.flatnonzero(mask):
        out[i] = ""
    return out


def _write(path: str, header: list[str], columns: list) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(zip(*columns))


def generate(raw_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the raw Olist CSVs for ``seed`` into ``raw_dir``; returns the
    row count of each table."""
    rng = np.random.default_rng(seed)
    n = sizes(scale)
    os.makedirs(raw_dir, exist_ok=True)

    def path(table: str) -> str:
        return os.path.join(raw_dir, FILENAMES[table])

    nc, no, ni, np_, ns = (
        n["customers"], n["orders"], n["order_items"], n["products"], n["sellers"]
    )

    city = rng.integers(0, len(CITIES), nc)
    _write(path("customers"),
           ["customer_id", "customer_unique_id", "customer_zip_code_prefix",
            "customer_city", "customer_state"],
           [[f"c{i:06d}" for i in range(nc)],
            [f"u{u:06d}" for u in rng.integers(0, nc, nc)],
            rng.integers(1000, 99999, nc).tolist(),
            [CITIES[c][0] for c in city], [CITIES[c][1] for c in city]])

    purchase = T0 + rng.integers(0, SPAN, no)
    purchase[0] = T0
    approved = purchase + rng.integers(0, 2 * DAY, no)
    carrier = approved + rng.integers(DAY, 4 * DAY, no)
    delivered = carrier + rng.integers(2 * DAY, 20 * DAY, no)
    estimated = purchase + rng.integers(9 * DAY, 30 * DAY, no)
    status = rng.choice(len(STATUSES), no, p=STATUS_P)
    undelivered = status != 0
    _write(path("orders"),
           ["order_id", "customer_id", "order_status", "order_purchase_timestamp",
            "order_approved_at", "order_delivered_carrier_date",
            "order_delivered_customer_date", "order_estimated_delivery_date"],
           [[f"o{i:06d}" for i in range(no)],
            [f"c{c:06d}" for c in rng.integers(0, nc, no)],
            [STATUSES[s] for s in status],
            _ts(purchase).tolist(),
            _blank(_ts(approved), status == 2),
            _blank(_ts(carrier), undelivered),
            _blank(_ts(delivered), undelivered),
            _ts(estimated).tolist()])

    # every order gets one item, the rest land on random orders; the line
    # number counts items within an order, as in the real dump
    item_order = np.sort(np.concatenate(
        [np.arange(no), rng.integers(0, no, max(0, ni - no))]
    ))[:ni]
    first = np.r_[True, item_order[1:] != item_order[:-1]]
    starts = np.maximum.accumulate(np.where(first, np.arange(ni), 0))
    line_no = np.arange(ni) - starts + 1
    _write(path("order_items"),
           ["order_id", "order_item_id", "product_id", "seller_id",
            "shipping_limit_date", "price", "freight_value"],
           [[f"o{o:06d}" for o in item_order], line_no.tolist(),
            [f"p{p:06d}" for p in rng.integers(0, np_, ni)],
            [f"s{s:05d}" for s in rng.integers(0, ns, ni)],
            _ts(purchase[item_order] + rng.integers(DAY, 7 * DAY, ni)).tolist(),
            np.round(rng.uniform(5, 1500, ni), 2).tolist(),
            np.round(rng.uniform(0, 120, ni), 2).tolist()])

    cats = list(CATEGORIES)
    cat = rng.integers(0, len(cats), np_)
    _write(path("products"),
           ["product_id", "product_category_name", "product_name_length",
            "product_description_length", "product_photos_qty",
            "product_weight_g", "product_length_cm", "product_height_cm",
            "product_width_cm"],
           [[f"p{i:06d}" for i in range(np_)],
            # ~2% unknown category and name length, like the real dump
            _blank(np.array([cats[c] for c in cat]), rng.random(np_) < 0.02),
            _blank(rng.integers(5, 76, np_), rng.random(np_) < 0.02),
            rng.integers(4, 3993, np_).tolist(),
            rng.integers(1, 21, np_).tolist(),
            rng.integers(50, 30000, np_).tolist(),
            rng.integers(7, 105, np_).tolist(),
            rng.integers(2, 105, np_).tolist(),
            rng.integers(6, 118, np_).tolist()])

    city = rng.integers(0, len(CITIES), ns)
    _write(path("sellers"),
           ["seller_id", "seller_zip_code_prefix", "seller_city", "seller_state"],
           [[f"s{i:05d}" for i in range(ns)],
            rng.integers(1000, 99999, ns).tolist(),
            [CITIES[c][0] for c in city], [CITIES[c][1] for c in city]])

    created = purchase + rng.integers(5 * DAY, 30 * DAY, no)
    _write(path("reviews"),
           ["review_id", "order_id", "review_score", "review_comment_title",
            "review_comment_message", "review_creation_date",
            "review_answer_timestamp"],
           [[f"r{i:06d}" for i in range(no)],
            [f"o{i:06d}" for i in range(no)],
            rng.choice(5, no, p=[0.11, 0.03, 0.08, 0.19, 0.59]) + 1,
            _blank(np.full(no, "recomendo"), rng.random(no) < 0.88),
            _blank(np.full(no, "chegou antes do prazo"), rng.random(no) < 0.59),
            _ts(created).tolist(),
            _ts(created + rng.integers(DAY // 2, 5 * DAY, no)).tolist()])

    _write(path("category_translation"),
           ["product_category_name", "product_category_name_english"],
           [list(CATEGORIES), list(CATEGORIES.values())])

    return {**n, "reviews": no, "category_translation": len(CATEGORIES)}
