"""Round-8 semantic audit, batches 22-23 — the TPC-H shape tail.

Batch 21 brute-forced the flagship joins (h1/h3/h5); this file covers
every remaining h-query (h2, h4, h6-h22). Each law recomputes the query
from its DEFINITION with plain Python dict/Decimal passes over the
parquet fixture — a different formulation from both the Spark plan and
the DuckDB oracle SQL, so a semantics bug shared by both engines
(invisible to the driver's hash gate) still fails here. Conventions
mirror the plans: revenue = DECIMAL(12,2) price x (1 - DECIMAL(6,4)
discount) summed exactly then surfaced as float; ratios/thresholds are
single IEEE ops replicated with identical association.
"""

from __future__ import annotations

import os
from collections import Counter, defaultdict
from decimal import Decimal

import pandas as pd

from etl_power_bi_dashboard_spark.plans import REGISTRY

from .conftest import SF_DIR, sf_table
from .test_round8_semantics import _rev

# h7 and h20 are empty at sf0.001 (degeneracy-sweep finding: their
# filters only produce live rows from sf0.01 up), so their laws run at
# the driver's sf0.01 (the sibling of the default fixture directory) — a
# 60k-row brute force, still sub-second.
SF01_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


def _dec2(x) -> Decimal:
    return Decimal(repr(round(float(x), 2)))


def _nation_names() -> dict[int, str]:
    return {
        int(r["n_nationkey"]): r["n_name"]
        for _, r in sf_table("nation").iterrows()
    }


def _region_of_nation() -> dict[int, int]:
    return {
        int(r["n_nationkey"]): int(r["n_regionkey"])
        for _, r in sf_table("nation").iterrows()
    }


# ------------------------------------------------- batch 22: h2-h12


def test_h2_min_cost_supplier_argmin_law(spark):
    """Q2 law: the kept (part, supplier) pairs are exactly the argmin set
    of observed unit price among ASIA suppliers, deduped, ordered by
    (acctbal DESC, nation, supplier, part), top-100."""
    region = sf_table("region")
    asia = set(
        int(k) for k in region[region["r_name"] == "ASIA"]["r_regionkey"]
    )
    nat = _nation_names()
    reg = _region_of_nation()
    supp = {
        int(r["s_suppkey"]): (r["s_name"], float(r["s_acctbal"]),
                              nat[int(r["s_nationkey"])])
        for _, r in sf_table("supplier").iterrows()
        if reg[int(r["s_nationkey"])] in asia
    }
    part = {
        int(r["p_partkey"]): r["p_name"]
        for _, r in sf_table("part").iterrows()
        if r["p_type"] == "LARGE"
    }
    # eligible: one row per qualifying lineitem, unit price as one IEEE divide
    eligible = []
    for _, r in sf_table("lineitem").iterrows():
        pk, sk = int(r["l_partkey"]), int(r["l_suppkey"])
        q = float(r["l_quantity"])
        if pk in part and sk in supp and q > 0:
            eligible.append((pk, sk, float(r["l_extendedprice"]) / q))
    per_part_min: dict[int, float] = {}
    for pk, _, up in eligible:
        if pk not in per_part_min or up < per_part_min[pk]:
            per_part_min[pk] = up
    kept = {}
    for pk, sk, up in eligible:
        if up == per_part_min[pk]:
            name, bal, nname = supp[sk]
            kept[(pk, name)] = (bal, name, nname, pk, part[pk], up)
    expect = sorted(
        kept.values(), key=lambda t: (-t[0], t[2], t[1], t[3])
    )[:100]
    rows = REGISTRY["h2_min_cost_supplier"].spark(spark, SF_DIR).collect()
    got = [
        (r.s_acctbal, r.s_name, r.n_name, r.p_partkey, r.p_name, r.min_price)
        for r in rows
    ]
    assert got == expect and len(got) > 0


def test_h4_order_priority_exists_once_law(spark):
    """Q4 law: each 1997H1 order with >=1 line shipped after its order
    date counts EXACTLY ONCE regardless of how many such lines it has."""
    o = sf_table("orders")
    lo, hi = pd.Timestamp("1997-01-01"), pd.Timestamp("1997-07-01")
    window = {
        int(r["o_orderkey"]): (pd.Timestamp(r["o_orderdate"]),
                               r["o_orderpriority"])
        for _, r in o.iterrows()
        if lo <= pd.Timestamp(r["o_orderdate"]) < hi
    }
    qualifying: set[int] = set()
    for _, r in sf_table("lineitem").iterrows():
        k = int(r["l_orderkey"])
        if k in window and pd.Timestamp(r["l_shipdate"]) > window[k][0]:
            qualifying.add(k)
    expect = Counter(window[k][1] for k in qualifying)
    rows = REGISTRY["h4_order_priority"].spark(spark, SF_DIR).collect()
    got = {r.o_orderpriority: r.order_count for r in rows}
    assert got == dict(expect) and sum(got.values()) == len(qualifying)


def test_h6_forecast_revenue_filter_and_decimal_law(spark):
    """Q6 law: revenue = exact decimal sum of price x discount over the
    1997 / discount-band / small-quantity slice, raw-float predicates."""
    total = Decimal(0)
    lo, hi = pd.Timestamp("1997-01-01"), pd.Timestamp("1998-01-01")
    for _, r in sf_table("lineitem").iterrows():
        d = float(r["l_discount"])
        if not (lo <= pd.Timestamp(r["l_shipdate"]) < hi):
            continue
        if not (0.05 <= d <= 0.07) or not (float(r["l_quantity"]) < 24):
            continue
        total += _dec2(r["l_extendedprice"]) * Decimal(repr(round(d, 4)))
    [row] = REGISTRY["h6_forecast_revenue"].spark(spark, SF_DIR).collect()
    assert row.revenue == float(total)


def test_h7_bilateral_pairs_law(spark):
    """Q7 law: only the two ORDERED (supp, cust) nation pairs appear —
    same-nation trade and every other pair is excluded — with exact
    per-(pair, ship-year) revenue. Runs at sf0.01: the pair filter is
    empty at sf0.001 (degeneracy-sweep finding)."""
    nat = {int(r["n_nationkey"]): r["n_name"]
           for _, r in sf_table("nation", SF01_DIR).iterrows()}
    supp_nat = {int(r["s_suppkey"]): nat[int(r["s_nationkey"])]
                for _, r in sf_table("supplier", SF01_DIR).iterrows()}
    cust_nat = {int(r["c_custkey"]): nat[int(r["c_nationkey"])]
                for _, r in sf_table("customer", SF01_DIR).iterrows()}
    ord_cust = {int(r["o_orderkey"]): int(r["o_custkey"])
                for _, r in sf_table("orders", SF01_DIR).iterrows()}
    lo, hi = pd.Timestamp("1997-01-01"), pd.Timestamp("1999-01-01")
    per = defaultdict(Decimal)
    for _, r in sf_table("lineitem", SF01_DIR).iterrows():
        sd = pd.Timestamp(r["l_shipdate"])
        if not (lo <= sd < hi):
            continue
        sn = supp_nat[int(r["l_suppkey"])]
        cn = cust_nat[ord_cust[int(r["l_orderkey"])]]
        if (sn, cn) in (("NATION_1", "NATION_2"), ("NATION_2", "NATION_1")):
            per[(sn, cn, sd.year)] += _rev(r)
    rows = REGISTRY["h7_volume_shipping"].spark(spark, SF01_DIR).collect()
    got = {(r.supp_nation, r.cust_nation, r.l_year): r.revenue for r in rows}
    assert got == {k: float(v) for k, v in per.items()} and len(got) > 0


def test_h8_market_share_is_supplier_nation_share_of_region_rev(spark):
    """Q8 law: per order-year, share = NATION_7-supplied revenue over all
    revenue sold INTO ASIA (region restriction is on the CUSTOMER's
    nation; the supplier side only picks the numerator)."""
    nat = _nation_names()
    reg = _region_of_nation()
    region = sf_table("region")
    asia = set(
        int(k) for k in region[region["r_name"] == "ASIA"]["r_regionkey"]
    )
    cust_in_asia = {
        int(r["c_custkey"]): reg[int(r["c_nationkey"])] in asia
        for _, r in sf_table("customer").iterrows()
    }
    supp_nat = {int(r["s_suppkey"]): nat[int(r["s_nationkey"])]
                for _, r in sf_table("supplier").iterrows()}
    ords = {int(r["o_orderkey"]): (int(r["o_custkey"]),
                                   pd.Timestamp(r["o_orderdate"]).year)
            for _, r in sf_table("orders").iterrows()}
    num, den = defaultdict(Decimal), defaultdict(Decimal)
    for _, r in sf_table("lineitem").iterrows():
        ck, yr = ords[int(r["l_orderkey"])]
        if not cust_in_asia[ck]:
            continue
        v = _rev(r)
        den[yr] += v
        if supp_nat[int(r["l_suppkey"])] == "NATION_7":
            num[yr] += v
    rows = REGISTRY["h8_market_share"].spark(spark, SF_DIR).collect()
    got = {r.o_year: r.mkt_share for r in rows}
    expect = {yr: float(num[yr]) / float(den[yr]) for yr in den}
    assert got == expect and len(got) > 0
    assert all(0.0 <= v <= 1.0 for v in got.values())


def test_h9_profit_decomposition_law(spark):
    """Q9 law: per (supplier nation, order year) over the %widget% slice,
    profit = float(sum revenue) - float(sum retail*qty)/10.0 — the cost
    term divided once at the end, never per row."""
    nat = _nation_names()
    widget = {
        int(r["p_partkey"]): _dec2(r["p_retailprice"])
        for _, r in sf_table("part").iterrows()
        if "widget" in r["p_name"]
    }
    supp_nat = {int(r["s_suppkey"]): nat[int(r["s_nationkey"])]
                for _, r in sf_table("supplier").iterrows()}
    ord_year = {int(r["o_orderkey"]): pd.Timestamp(r["o_orderdate"]).year
                for _, r in sf_table("orders").iterrows()}
    rev, cost = defaultdict(Decimal), defaultdict(Decimal)
    for _, r in sf_table("lineitem").iterrows():
        pk = int(r["l_partkey"])
        if pk not in widget:
            continue
        key = (supp_nat[int(r["l_suppkey"])], ord_year[int(r["l_orderkey"])])
        rev[key] += _rev(r)
        cost[key] += widget[pk] * _dec2(r["l_quantity"])
    rows = REGISTRY["h9_product_profit"].spark(spark, SF_DIR).collect()
    got = {(r.n_name, r.o_year): r.profit for r in rows}
    expect = {k: float(rev[k]) - float(cost[k]) / 10.0 for k in rev}
    assert got == expect and len(got) > 0


def test_h10_returned_items_top20_law(spark):
    """Q10 law: per-customer lost revenue counts ONLY returnflag='R'
    lines of 1997Q1 orders; top-20 by (revenue DESC, custkey)."""
    cust = {
        int(r["c_custkey"]): (r["c_name"], float(r["c_acctbal"]),
                              int(r["c_nationkey"]))
        for _, r in sf_table("customer").iterrows()
    }
    nat = _nation_names()
    lo, hi = pd.Timestamp("1997-01-01"), pd.Timestamp("1997-04-01")
    ord_cust = {
        int(r["o_orderkey"]): int(r["o_custkey"])
        for _, r in sf_table("orders").iterrows()
        if lo <= pd.Timestamp(r["o_orderdate"]) < hi
    }
    per = defaultdict(Decimal)
    for _, r in sf_table("lineitem").iterrows():
        k = int(r["l_orderkey"])
        if r["l_returnflag"] == "R" and k in ord_cust:
            per[ord_cust[k]] += _rev(r)
    ranked = sorted(
        ((float(v), ck) for ck, v in per.items()), key=lambda t: (-t[0], t[1])
    )[:20]
    rows = REGISTRY["h10_returned_items"].spark(spark, SF_DIR).collect()
    assert [(r.revenue, r.c_custkey) for r in rows] == ranked
    for r in rows:
        name, bal, nk = cust[r.c_custkey]
        assert (r.c_name, r.c_acctbal, r.n_name) == (name, bal, nat[nk])


def test_h11_threshold_is_strict_and_over_same_slice(spark):
    """Q11 law: kept parts have value STRICTLY above 0.001x the total of
    the SAME nation-filtered slice (the total is not all-nations)."""
    nat = _nation_names()
    n3_supp = {
        int(r["s_suppkey"])
        for _, r in sf_table("supplier").iterrows()
        if nat[int(r["s_nationkey"])] == "NATION_3"
    }
    per = defaultdict(Decimal)
    for _, r in sf_table("lineitem").iterrows():
        if int(r["l_suppkey"]) in n3_supp:
            per[int(r["l_partkey"])] += _rev(r)
    total = float(sum(per.values()))
    expect = {
        pk: float(v) for pk, v in per.items() if float(v) > total * 0.001
    }
    rows = REGISTRY["h11_important_parts"].spark(spark, SF_DIR).collect()
    got = {r.l_partkey: r.part_value for r in rows}
    assert got == expect and len(got) > 0


def test_h12_counts_lines_not_orders(spark):
    """Q12 law: high/low tallies count LINEITEMS in the ship window (an
    order with 3 shipped lines contributes 3), and high+low covers the
    window exactly."""
    prio = {int(r["o_orderkey"]): r["o_orderpriority"]
            for _, r in sf_table("orders").iterrows()}
    lo, hi = pd.Timestamp("1997-01-01"), pd.Timestamp("1998-01-01")
    high_c, low_c, n_window = Counter(), Counter(), 0
    for _, r in sf_table("lineitem").iterrows():
        if not (lo <= pd.Timestamp(r["l_shipdate"]) < hi):
            continue
        n_window += 1
        st = r["l_linestatus"]
        if prio[int(r["l_orderkey"])] in ("1-URGENT", "2-HIGH"):
            high_c[st] += 1
        else:
            low_c[st] += 1
    rows = REGISTRY["h12_priority_case"].spark(spark, SF_DIR).collect()
    got = {r.l_linestatus: (r.high_line_count, r.low_line_count)
           for r in rows}
    expect = {st: (high_c[st], low_c[st])
              for st in set(high_c) | set(low_c)}
    assert got == expect
    assert sum(h + lw for h, lw in got.values()) == n_window > 0


# ------------------------------------------------ batch 23: h13-h22


def test_h13_zero_order_customers_survive_the_outer_join(spark):
    """Q13 law: the predicate lives INSIDE the join, so customers whose
    every order is urgent land in the c_count=0 bucket, and custdist
    sums to the full customer count."""
    n_cust = len(sf_table("customer"))
    per = Counter()
    for _, r in sf_table("orders").iterrows():
        if r["o_orderpriority"] != "1-URGENT":
            per[int(r["o_custkey"])] += 1
    dist = Counter(per.values())
    dist[0] = n_cust - len(per)
    if dist[0] == 0:
        del dist[0]
    rows = REGISTRY["h13_custdist"].spark(spark, SF_DIR).collect()
    got = {r.c_count: r.custdist for r in rows}
    assert got == dict(dist)
    assert sum(got.values()) == n_cust


def test_h14_promo_ratio_association_law(spark):
    """Q14 law: pct = (100.0 * promo) / total with the numerator product
    first — replicating the plan's IEEE association exactly."""
    promo = {
        int(r["p_partkey"])
        for _, r in sf_table("part").iterrows() if r["p_type"] == "PROMO"
    }
    lo, hi = pd.Timestamp("1997-03-01"), pd.Timestamp("1997-04-01")
    p_sum, t_sum = Decimal(0), Decimal(0)
    for _, r in sf_table("lineitem").iterrows():
        if not (lo <= pd.Timestamp(r["l_shipdate"]) < hi):
            continue
        v = _rev(r)
        t_sum += v
        if int(r["l_partkey"]) in promo:
            p_sum += v
    [row] = REGISTRY["h14_promo_ratio"].spark(spark, SF_DIR).collect()
    assert row.promo_revenue_pct == (100.0 * float(p_sum)) / float(t_sum)


def test_h15_argmax_keeps_every_tied_supplier(spark):
    """Q15 law: the result is the full argmax SET over per-supplier
    3-month revenue (ties all kept, never an arbitrary single row)."""
    lo, hi = pd.Timestamp("1997-01-01"), pd.Timestamp("1997-04-01")
    per = defaultdict(Decimal)
    for _, r in sf_table("lineitem").iterrows():
        if lo <= pd.Timestamp(r["l_shipdate"]) < hi:
            per[int(r["l_suppkey"])] += _rev(r)
    as_float = {k: float(v) for k, v in per.items()}
    mx = max(as_float.values())
    names = {int(r["s_suppkey"]): r["s_name"]
             for _, r in sf_table("supplier").iterrows()}
    expect = {(k, names[k], v) for k, v in as_float.items() if v == mx}
    rows = REGISTRY["h15_top_supplier"].spark(spark, SF_DIR).collect()
    got = {(r.s_suppkey, r.s_name, r.total_revenue) for r in rows}
    assert got == expect and len(got) >= 1


def test_h16_distinct_suppliers_after_blacklist(spark):
    """Q16 law: supplier_cnt is the DISTINCT supplier count per
    (brand, size) over non-STANDARD parts, with negative-balance
    suppliers removed BEFORE counting."""
    bad = {
        int(r["s_suppkey"])
        for _, r in sf_table("supplier").iterrows() if float(r["s_acctbal"]) < 0
    }
    pmeta = {
        int(r["p_partkey"]): (r["p_brand"], int(r["p_size"]))
        for _, r in sf_table("part").iterrows() if r["p_type"] != "STANDARD"
    }
    sets = defaultdict(set)
    for _, r in sf_table("lineitem").iterrows():
        pk, sk = int(r["l_partkey"]), int(r["l_suppkey"])
        if pk in pmeta and sk not in bad:
            sets[pmeta[pk]].add(sk)
    rows = REGISTRY["h16_supplier_count"].spark(spark, SF_DIR).collect()
    got = {(r.p_brand, r.p_size): r.supplier_cnt for r in rows}
    assert got == {k: len(v) for k, v in sets.items()} and len(got) > 0


def test_h17_threshold_avg_is_over_all_lines_of_the_part(spark):
    """Q17 law: the 0.2x threshold uses the part's average quantity over
    ALL its lineitems (not a filtered slice), avg = float(decimal sum) /
    count, and the final figure divides by 7.0 once."""
    qty_sum, qty_n = defaultdict(Decimal), Counter()
    for _, r in sf_table("lineitem").iterrows():
        pk = int(r["l_partkey"])
        qty_sum[pk] += _dec2(r["l_quantity"])
        qty_n[pk] += 1
    avg = {pk: float(qty_sum[pk]) / qty_n[pk] for pk in qty_sum}
    price = Decimal(0)
    for _, r in sf_table("lineitem").iterrows():
        if float(r["l_quantity"]) < 0.2 * avg[int(r["l_partkey"])]:
            price += _dec2(r["l_extendedprice"])
    [row] = REGISTRY["h17_small_qty_revenue"].spark(spark, SF_DIR).collect()
    assert row.avg_yearly == float(price) / 7.0


def test_h18_having_threshold_and_top10(spark):
    """Q18 law: orders kept iff total quantity (exact decimal sum as
    double) > 150; top-10 by (total_qty DESC, orderkey) with header
    columns carried through unchanged."""
    tot = defaultdict(Decimal)
    for _, r in sf_table("lineitem").iterrows():
        tot[int(r["l_orderkey"])] += _dec2(r["l_quantity"])
    big = {k: float(v) for k, v in tot.items() if float(v) > 150.0}
    ords = {int(r["o_orderkey"]): r for _, r in sf_table("orders").iterrows()}
    cust = {int(r["c_custkey"]): r["c_name"]
            for _, r in sf_table("customer").iterrows()}
    ranked = sorted(big.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    rows = REGISTRY["h18_large_volume"].spark(spark, SF_DIR).collect()
    assert [(r.o_orderkey, r.total_qty) for r in rows] == ranked
    for r in rows:
        o = ords[r.o_orderkey]
        assert r.c_custkey == int(o["o_custkey"])
        assert r.c_name == cust[int(o["o_custkey"])]
        assert pd.Timestamp(r.o_orderdate) == pd.Timestamp(o["o_orderdate"])
        assert r.o_totalprice == float(o["o_totalprice"])


def test_h19_disjunction_of_conjunctions_law(spark):
    """Q19 law: a line counts iff at least one (brand, size, quantity)
    clause holds — revenue and line count over exactly that subset."""
    pmeta = {
        int(r["p_partkey"]): (r["p_brand"], int(r["p_size"]))
        for _, r in sf_table("part").iterrows()
    }
    total, n = Decimal(0), 0
    for _, r in sf_table("lineitem").iterrows():
        brand, size = pmeta[int(r["l_partkey"])]
        q = float(r["l_quantity"])
        ok = (
            (brand == "Brand#1" and size <= 5 and 1 <= q <= 11)
            or (brand == "Brand#2" and size <= 10 and 10 <= q <= 20)
            or (brand == "Brand#3" and size <= 15 and 20 <= q <= 30)
        )
        if ok:
            total += _rev(r)
            n += 1
    [row] = REGISTRY["h19_disjunctive"].spark(spark, SF_DIR).collect()
    assert (row.revenue, row.n_lines) == (float(total), n)


def test_h20_dominance_share_law(spark):
    """Q20 law: a supplier qualifies iff for SOME Brand#5 part its 1997
    shipped quantity strictly exceeds 25% of that part's total — then
    intersected with NATION_5 suppliers, ordered by key. Runs at
    sf0.01: empty at sf0.001 (degeneracy-sweep finding)."""
    b5 = {
        int(r["p_partkey"])
        for _, r in sf_table("part", SF01_DIR).iterrows()
        if r["p_brand"] == "Brand#5"
    }
    lo, hi = pd.Timestamp("1997-01-01"), pd.Timestamp("1998-01-01")
    pair, part_tot = defaultdict(Decimal), defaultdict(Decimal)
    for _, r in sf_table("lineitem", SF01_DIR).iterrows():
        pk = int(r["l_partkey"])
        if pk not in b5 or not (lo <= pd.Timestamp(r["l_shipdate"]) < hi):
            continue
        q = _dec2(r["l_quantity"])
        pair[(pk, int(r["l_suppkey"]))] += q
        part_tot[pk] += q
    dominant = {
        sk for (pk, sk), v in pair.items()
        if float(v) > float(part_tot[pk]) * 0.25
    }
    nat = {int(r["n_nationkey"]): r["n_name"]
           for _, r in sf_table("nation", SF01_DIR).iterrows()}
    expect = sorted(
        (int(r["s_suppkey"]), r["s_name"])
        for _, r in sf_table("supplier", SF01_DIR).iterrows()
        if nat[int(r["s_nationkey"])] == "NATION_5"
        and int(r["s_suppkey"]) in dominant
    )
    assert len(expect) > 0
    rows = REGISTRY["h20_excess_suppliers"].spark(spark, SF01_DIR).collect()
    assert [(r.s_suppkey, r.s_name) for r in rows] == expect


def test_h21_alone_late_on_multisupplier_order(spark):
    """Q21 law: a LATE LINE (finished order, shipped >60 days after the
    order date) counts iff its order has another supplier's line (late
    or not) AND no OTHER supplier was late on it — with per-line
    multiplicity (two late lines by the same supplier count twice)."""
    finished = {
        int(r["o_orderkey"]): pd.Timestamp(r["o_orderdate"])
        for _, r in sf_table("orders").iterrows() if r["o_orderstatus"] == "F"
    }
    late_lines = []  # (orderkey, suppkey) with multiplicity
    order_supps = defaultdict(set)
    for _, r in sf_table("lineitem").iterrows():
        k, sk = int(r["l_orderkey"]), int(r["l_suppkey"])
        order_supps[k].add(sk)
        if k in finished and pd.Timestamp(r["l_shipdate"]) > (
            finished[k] + pd.Timedelta(days=60)
        ):
            late_lines.append((k, sk))
    late_supp_sets = defaultdict(set)
    for k, sk in late_lines:
        late_supp_sets[k].add(sk)
    names = {int(r["s_suppkey"]): r["s_name"]
             for _, r in sf_table("supplier").iterrows()}
    numwait = Counter()
    for k, sk in late_lines:
        if len(order_supps[k] - {sk}) == 0:
            continue  # sole supplier on the order
        if late_supp_sets[k] - {sk}:
            continue  # someone else was late too
        numwait[names[sk]] += 1
    expect = sorted(numwait.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    rows = REGISTRY["h21_waiting_supplier"].spark(spark, SF_DIR).collect()
    assert [(r.s_name, r.numwait) for r in rows] == expect


def test_h22_rich_and_recency_idle_law(spark):
    """Q22 law: kept customers have balance strictly above the global
    mean (float(decimal sum)/count) AND no order dated on/after
    2000-01-01; per-segment count + exact decimal balance total."""
    cust = sf_table("customer")
    bal_sum = sum((_dec2(r["c_acctbal"]) for _, r in cust.iterrows()),
                  Decimal(0))
    avg = float(bal_sum) / len(cust)
    recent = {
        int(r["o_custkey"])
        for _, r in sf_table("orders").iterrows()
        if pd.Timestamp(r["o_orderdate"]).date() >= pd.Timestamp(
            "2000-01-01").date()
    }
    n_seg, tot_seg = Counter(), defaultdict(Decimal)
    for _, r in cust.iterrows():
        ck = int(r["c_custkey"])
        if float(r["c_acctbal"]) > avg and ck not in recent:
            n_seg[r["c_mktsegment"]] += 1
            tot_seg[r["c_mktsegment"]] += _dec2(r["c_acctbal"])
    rows = REGISTRY["h22_idle_customers"].spark(spark, SF_DIR).collect()
    got = {r.c_mktsegment: (r.numcust, r.totacctbal) for r in rows}
    expect = {s: (n_seg[s], float(tot_seg[s])) for s in n_seg}
    assert got == expect and len(got) > 0
