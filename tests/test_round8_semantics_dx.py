"""Round-8 semantic audit, batch 25 — remaining dedup-family laws
(d1b, d5, d7, d9, d12, d15, d16) and text-family laws (x3, x6, x8,
x18, x19, x25).

Each law recomputes the operator from its prose definition with plain
Python sets/dicts/union-find over the parquet fixture — independent of
both the Spark plan (prefix filters, posting joins, windows) and the
DuckDB oracle SQL — so a definition misread shared by both engines
still fails here. Notably the d6-derived laws (d7/d15) re-derive the
duplicate clusters with a from-scratch union-find over all-pairs exact
Jaccard, proving the PPJoin-pruned candidate generation + min-label
fixpoint end to end against the textbook formulation.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict
from itertools import combinations

import pandas as pd

from etl_power_bi_dashboard_spark.plans import REGISTRY

from .conftest import SF_DIR, STOPWORDS, doc_texts, sf_table
from .test_round8_semantics import _chunks

EMAIL_RE = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")


def _texts() -> dict[int, str]:
    return {int(r["doc_id"]): r["text"] for _, r in sf_table("documents").iterrows()}


def _union_find_clusters(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = defaultdict(set)
    for n in nodes:
        comp[find(n)].add(n)
    return {n: min(members) for members in comp.values() for n in members}


def _d6_labels() -> dict[int, int]:
    """From-scratch duplicate clusters: unigram-Jaccard >= 0.95 edges
    over ALL pairs (no prefix/length/positional pruning), min-label
    components."""
    sets_ = {d: set(t.split(" ")) for d, t in _texts().items()}
    edges = []
    for a, b in combinations(sorted(sets_), 2):
        sa, sb = sets_[a], sets_[b]
        inter = len(sa & sb)
        if inter and inter / (len(sa) + len(sb) - inter) >= 0.95:
            edges.append((a, b))
    return _union_find_clusters(edges, sorted(sets_))


# ------------------------------------------------------------ d-family


def test_d1b_prefix_key_groups_law(spark):
    """d1b law: groups are keyed by the md5 of the first-2-token prefix,
    keep the min doc_id, sizes sum to the corpus, and the fixture
    genuinely collides (some group_size >= 2)."""
    groups = defaultdict(list)
    for d, t in doc_texts().items():
        key = hashlib.md5(" ".join(t.split(" ")[:2]).encode()).hexdigest()
        groups[key].append(d)
    rows = REGISTRY["d1b_dedup_prefix"].spark(spark, SF_DIR).collect()
    got = {r.prefix_key: (r.keep_doc_id, r.group_size) for r in rows}
    assert got == {k: (min(v), len(v)) for k, v in groups.items()}
    assert sum(v[1] for v in got.values()) == len(doc_texts())
    assert any(v[1] >= 2 for v in got.values())


def test_d5_exact_cosine_pairs_law(spark):
    """d5 law: every (a < b, a < 200) pair with sequential-fold cosine
    rounded to 6 dp >= 0.35 appears — and nothing else."""
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    vecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for _, r in emb.iterrows()
    }

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    norms = {k: math.sqrt(fold_dot(v, v)) for k, v in vecs.items()}
    expect = {}
    for a in sorted(vecs):
        if a >= 200:
            break
        for b in sorted(vecs):
            if b <= a:
                continue
            c = round(fold_dot(vecs[a], vecs[b]) / (norms[a] * norms[b]), 6)
            if c >= 0.35:
                expect[(a, b)] = c
    rows = REGISTRY["d5_embedding_neardup"].spark(spark, SF_DIR).collect()
    got = {(r.vec_a, r.vec_b): r.cosine for r in rows}
    assert set(got) == set(expect) and len(got) > 0
    for k, v in got.items():
        assert abs(v - expect[k]) < 2e-6


def test_d7_representatives_match_union_find(spark):
    """d7 law: one row per connected component of the all-pairs
    J >= 0.95 duplicate graph, keyed by its min member, sized exactly."""
    labels = _d6_labels()
    sizes = Counter(labels.values())
    rows = REGISTRY["d7_cluster_representatives"].spark(
        spark, SF_DIR
    ).collect()
    got = {r.representative_doc: r.cluster_size for r in rows}
    assert got == dict(sizes)
    assert sum(got.values()) == len(labels)
    assert any(v >= 2 for v in got.values())


def test_d9_contamination_shared_distinct_4grams(spark):
    """d9 law: shared_ngrams counts DISTINCT word 4-grams common to a
    corpus doc (id >= 20) and an eval doc (id < 20); zero-overlap pairs
    never appear."""
    grams = {}
    for d, t in doc_texts().items():
        toks = t.split(" ")
        n = len(toks)
        grams[d] = {
            " ".join(toks[i:i + 4]) for i in range(max(n - 3, 1))
        }
    expect = {}
    for c in grams:
        if c < 20:
            continue
        for e in grams:
            if e >= 20:
                continue
            shared = len(grams[c] & grams[e])
            if shared:
                expect[(c, e)] = shared
    rows = REGISTRY["d9_contamination"].spark(spark, SF_DIR).collect()
    got = {(r.doc_id, r.eval_doc_id): r.shared_ngrams for r in rows}
    assert got == expect and len(got) > 0


def _levenshtein(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_d12_blocked_levenshtein_law(spark):
    """d12 law: pairs share the first title token and a +-1 length band
    (length//8), a < b, and carry the exact edit distance <= 5."""
    titles = {
        d: " ".join(t.split(" ")[:3]) for d, t in doc_texts().items()
    }
    expect = {}
    by_tok = defaultdict(list)
    for d, title in titles.items():
        by_tok[title.split(" ")[0]].append(d)
    for tok, ids in by_tok.items():
        for a, b in combinations(sorted(ids), 2):
            ta, tb = titles[a], titles[b]
            if abs(len(ta) // 8 - len(tb) // 8) > 1:
                continue
            dist = _levenshtein(ta, tb)
            if dist <= 5:
                expect[(a, b)] = dist
    rows = REGISTRY["d12_fuzzy_title_match"].spark(spark, SF_DIR).collect()
    got = {(r.doc_a, r.doc_b): r.edit_dist for r in rows}
    assert got == expect and len(got) > 0


def test_d15_keep_longest_policy_law(spark):
    """d15 law: within each union-find cluster the member with max
    (n_chars, then min doc_id) is kept; every member points at it; the
    keep flag fires exactly once per cluster."""
    labels = _d6_labels()
    n_chars = {
        int(r["doc_id"]): int(r["n_chars"]) for _, r in sf_table("documents").iterrows()
    }
    members = defaultdict(list)
    for d, c in labels.items():
        members[c].append(d)
    kept = {
        c: min(ms, key=lambda d: (-n_chars[d], d))
        for c, ms in members.items()
    }
    rows = REGISTRY["d15_keep_longest"].spark(spark, SF_DIR).collect()
    got = {r.doc_id: (r.cluster, r.n_chars, r.kept_doc, r.keep)
           for r in rows}
    expect = {
        d: (c, n_chars[d], kept[c], d == kept[c])
        for d, c in labels.items()
    }
    assert got == expect
    assert sum(1 for v in got.values() if v[3]) == len(members)


def test_d16_containment_pairs_law(spark):
    """d16 law: over distinct 8-token/stride-4 chunk sets, every ordered
    (smaller, larger) pair — size tie broken by id — with
    2*|intersection| >= |small| appears with exact counts and both
    containment fractions."""
    sets_ = {d: set(_chunks(t.split(" "))) for d, t in doc_texts().items()}
    expect = {}
    for a, b in combinations(sorted(sets_), 2):
        na, nb = len(sets_[a]), len(sets_[b])
        small, large = (a, b) if (na < nb or (na == nb and a < b)) else (b, a)
        ns, nl = len(sets_[small]), len(sets_[large])
        inter = len(sets_[small] & sets_[large])
        if 2 * inter >= ns:
            expect[(small, large)] = (
                inter, ns, nl, float(inter) / float(ns),
                float(inter) / float(nl),
            )
    rows = REGISTRY["d16_containment_pairs"].spark(spark, SF_DIR).collect()
    got = {
        (r.doc_small, r.doc_large): (
            r.inter, r.n_small, r.n_large,
            r.containment_small, r.containment_large,
        )
        for r in rows
    }
    assert got == expect and len(got) > 0


# ------------------------------------------------------------ x-family


def _stop_ratio(t: str) -> float:
    toks = t.split(" ")
    return sum(1 for x in toks if x in STOPWORDS) / len(toks)


def test_x3_stopword_language_heuristic(spark):
    """x3 law: lang_guess = 'en' iff stopword ratio (over raw
    single-space tokens, empties included in the denominator) > 0.05."""
    rows = REGISTRY["x3_lang_guess"].spark(spark, SF_DIR).collect()
    texts = doc_texts()
    langs = {int(r["doc_id"]): r["lang"] for _, r in sf_table("documents").iterrows()}
    got = {r.doc_id: (r.lang, r.lang_guess) for r in rows}
    expect = {
        d: (langs[d], "en" if _stop_ratio(t) > 0.05 else "unknown")
        for d, t in texts.items()
    }
    assert got == expect
    assert len({v[1] for v in got.values()}) == 2  # both arms live


def test_x19_confusion_matrix_law(spark):
    """x19 law: cells are exact (actual, predicted) counts and each
    cell's share divides by its ACTUAL-class row total."""
    texts = doc_texts()
    langs = {int(r["doc_id"]): r["lang"] for _, r in sf_table("documents").iterrows()}
    cells = Counter(
        (langs[d], "en" if _stop_ratio(t) > 0.05 else "unknown")
        for d, t in texts.items()
    )
    row_tot = Counter()
    for (lang, _), n in cells.items():
        row_tot[lang] += n
    rows = REGISTRY["x19_lang_confusion"].spark(spark, SF_DIR).collect()
    got = {(r.lang, r.lang_guess): (r.n, r.frac_of_actual) for r in rows}
    expect = {
        k: (n, float(n) / float(row_tot[k[0]])) for k, n in cells.items()
    }
    assert got == expect and len(got) > 0


def test_x6_tfidf_rational_idf_law(spark):
    """x6 law: score = (tf/doc_len) * (N/df) — rational IDF, doc_len
    from token multiplicity, df over documents — top-3 per doc with the
    term tiebreak."""
    texts = doc_texts()
    n_docs = len(texts)
    tf = {}
    df = Counter()
    for d, t in texts.items():
        c = Counter(x for x in t.split(" ") if x)
        tf[d] = c
        for term in c:
            df[term] += 1
    expect = {}
    for d, c in tf.items():
        doc_len = sum(c.values())
        scored = [
            (
                (float(cnt) / float(doc_len)) * (float(n_docs) / float(df[t_])),
                t_,
            )
            for t_, cnt in c.items()
        ]
        scored.sort(key=lambda s: (-s[0], s[1]))
        for rk, (score, term) in enumerate(scored[:3], start=1):
            expect[(d, rk)] = (term, score)
    rows = REGISTRY["x6_tfidf"].spark(spark, SF_DIR).collect()
    got = {(r.doc_id, r.rk): (r.term, r.score) for r in rows}
    assert got == expect and len(got) == 3 * n_docs


def test_x8_email_scrub_law(spark):
    """x8 law: the raw corpus holds no emails; every 7th doc gets one
    injected; counts and scrubbed md5s match a reference regex pass."""
    expect = {}
    for d, t in doc_texts().items():
        assert not EMAIL_RE.search(t)  # raw corpus is clean
        if d % 7 == 0:
            t = f"{t} contact user{d}@example.com now"
        expect[d] = (
            len(EMAIL_RE.findall(t)),
            hashlib.md5(EMAIL_RE.sub("[EMAIL]", t).encode()).hexdigest(),
        )
    rows = REGISTRY["x8_pii_scrub"].spark(spark, SF_DIR).collect()
    got = {r.doc_id: (r.n_redactions, r.scrubbed_md5) for r in rows}
    assert got == expect
    assert all(
        (got[d][0] == 1) == (d % 7 == 0) for d in got
    )  # exactly the injected docs redact


def test_x18_association_rules_law(spark):
    """x18 law: pair support counts DOCUMENTS containing both terms
    (multiplicity-free), support >= 25, confidence = c_xy/c_x, lift
    rounded at 9 dp, top-20 by (lift DESC, t1, t2)."""
    texts = doc_texts()
    n_docs = len(texts)
    doc_terms = {
        d: sorted({x for x in t.split(" ") if x}) for d, t in texts.items()
    }
    c_t = Counter()
    for terms in doc_terms.values():
        for t_ in terms:
            c_t[t_] += 1
    c_xy = Counter()
    for terms in doc_terms.values():
        for a, b in combinations(terms, 2):
            c_xy[(a, b)] += 1
    scored = []
    for (a, b), n in c_xy.items():
        if n < 25:
            continue
        conf = float(n) / float(c_t[a])
        lift = round(
            (float(n) * float(n_docs)) / (float(c_t[a]) * float(c_t[b])), 9
        )
        scored.append((lift, a, b, n, conf))
    scored.sort(key=lambda s: (-s[0], s[1], s[2]))
    expect = [(a, b, n, conf, lift) for lift, a, b, n, conf in scored[:20]]
    rows = REGISTRY["x18_cooccurrence"].spark(spark, SF_DIR).collect()
    got = [(r.t1, r.t2, r.c_xy, r.confidence, r.lift) for r in rows]
    assert got == expect and len(got) > 0


def test_x25_first_introduction_novelty_law(spark):
    """x25 law: a distinct 5-gram is novel for exactly the MIN doc_id
    containing it; docs under 5 tokens vanish; zero-novel docs report 0,
    not NULL."""
    texts = doc_texts()
    grams = {}
    for d, t in texts.items():
        toks = t.split(" ")
        if len(toks) < 5:
            continue
        grams[d] = {
            " ".join(toks[i:i + 5]) for i in range(len(toks) - 4)
        }
    first = {}
    for d in sorted(grams):
        for g in grams[d]:
            first.setdefault(g, d)
    expect = {}
    for d, gs in grams.items():
        novel = sum(1 for g in gs if first[g] == d)
        expect[d] = (len(gs), novel, float(novel) / float(len(gs)))
    rows = REGISTRY["x25_ngram_novelty"].spark(spark, SF_DIR).collect()
    got = {r.doc_id: (r.n_grams, r.n_novel, r.novelty_frac) for r in rows}
    assert got == expect and len(got) > 0
    # saturation law: novelty decays — later docs are (weakly) less
    # novel in aggregate than the opening docs
    ds = sorted(got)
    third = len(ds) // 3
    early = sum(got[d][2] for d in ds[:third]) / third
    late = sum(got[d][2] for d in ds[-third:]) / third
    assert early >= late
