"""Deduplication operators (SURVEY §2.K) — exact, near-dup, MinHash-LSH.

Three rungs of the dedup ladder a training-data pipeline needs:

1. `q_dedup_exact` — content-hash groupBy; one shuffle proportional to
   |distinct contents|. The 100 TB workhorse.
2. `q_dedup_near_jaccard` — exact token-set Jaccard over token-blocked
   candidate pairs; quadratic in block size, used as ground truth.
3. `E-MINHASH-LSH` — the scale path: shingle → seeded MinHash signatures →
   banded LSH buckets → candidate pairs. Deterministic hash family
   (xxhash64(concat(token, seed))) — never rand() (SURVEY §7 hard-point e).
   Recall vs the exact truth is asserted in tests/test_llm.py.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from xml_processor_spark.io import row_count, scratch_dir, table, widen
from xml_processor_spark.registry import register


@register(
    "q_dedup_exact",
    oracle="""
        SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS n_copies
        FROM documents
        GROUP BY md5(text)
    """,
    origin="LLM",
    doc="Exact dedup: md5 fingerprint groups, keep lowest doc_id.",
)
def q_dedup_exact(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("fp")).agg(
        F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_copies")
    )


# Integer-exact threshold: J = i/(|A|+|B|-i) >= 0.95  ⇔  100*i >= 95*(|A|+|B|-i)
_TAU_NUM, _TAU_DEN = 95, 100


@register(
    "q_dedup_near_jaccard",
    oracle=f"""
        WITH docs AS (
            SELECT doc_id,
                   list_sort(list_distinct(string_split(text, ' '))) AS toks
            FROM documents
        ), cls AS MATERIALIZED (
            SELECT toks, len(toks) AS n,
                   list_sort(list(doc_id)) AS ids,
                   min(doc_id) AS mid,
                   array_to_string(toks, chr(1)) AS sig
            FROM docs WHERE len(toks) >= 1
            GROUP BY toks
        ),
        within AS (
            SELECT ids[i.i] AS id_a, ids[j.j] AS id_b, 1.0 AS jaccard
            FROM cls,
                 LATERAL (SELECT unnest(generate_series(1, len(ids) - 1))
                          AS i) i,
                 LATERAL (SELECT unnest(generate_series(i.i + 1, len(ids)))
                          AS j) j
        ),
        -- Deletion-neighborhood candidates (Arasu et al., SSJoin): a
        -- pair with J >= 95/100 has symmetric difference d <= i/19 <=
        -- n_min/19, so both classes reach their intersection by
        -- deleting at most D(n) = n div 19 tokens — join classes on
        -- shared delete-<=D subsets and verify only those. Candidate
        -- volume is output-sized; the size-band x list_intersect scan
        -- (1.3e8 pairs) ran >10 min in DuckDB at SF1. The guard CTE
        -- raises if any class is large enough to need D > 2 (n >= 57),
        -- so a fixture change can never silently lose pairs.
        guard AS (
            SELECT CASE WHEN max(n) >= 57 THEN error(
                'q_dedup_near_jaccard oracle: class size needs delete-3 '
                'neighborhood; extend the dels CTE')
                   ELSE 1 END AS ok
            FROM cls
        ),
        dels AS (
            SELECT mid, sig FROM cls
            UNION ALL
            SELECT mid, array_to_string(
                       list_select(toks, list_filter(
                           generate_series(1, n), k -> k <> i.i)), chr(1))
            FROM cls, LATERAL (SELECT unnest(generate_series(1, n)) AS i) i
            WHERE n >= {_TAU_NUM // (_TAU_DEN - _TAU_NUM)}
            UNION ALL
            SELECT mid, array_to_string(
                       list_select(toks, list_filter(
                           generate_series(1, n),
                           k -> k <> i.i AND k <> j.j)), chr(1))
            FROM cls,
                 LATERAL (SELECT unnest(generate_series(1, n)) AS i) i,
                 LATERAL (SELECT unnest(generate_series(i.i + 1, n)) AS j) j
            WHERE n >= {2 * _TAU_NUM // (_TAU_DEN - _TAU_NUM)}
        ),
        candpairs AS (
            SELECT DISTINCT a.mid AS mid_a, b.mid AS mid_b
            FROM dels a JOIN dels b ON a.sig = b.sig AND a.mid < b.mid
        ),
        cand AS (
            SELECT ca.ids AS ia, cb.ids AS ib, ca.n AS na, cb.n AS nb,
                   len(list_intersect(ca.toks, cb.toks)) AS i
            FROM candpairs p
            JOIN cls ca ON ca.mid = p.mid_a
            JOIN cls cb ON cb.mid = p.mid_b
            CROSS JOIN guard
        ),
        cross_pairs AS (
            SELECT least(da.x, db.x) AS id_a, greatest(da.x, db.x) AS id_b,
                   round(i / CAST(na + nb - i AS DOUBLE), 6) AS jaccard
            FROM cand,
                 LATERAL (SELECT unnest(ia) AS x) da,
                 LATERAL (SELECT unnest(ib) AS x) db
            WHERE {_TAU_DEN} * i >= {_TAU_NUM} * (na + nb - i)
        )
        SELECT * FROM within UNION ALL SELECT * FROM cross_pairs
        -- Guard anchor (ADVICE r11): the CROSS JOIN inside cand only
        -- evaluates guard when candpairs is non-empty; this branch forces
        -- the guard aggregate (and its error()) to run regardless —
        -- ok = 1 when sizes are in range, so it never emits a row.
        UNION ALL
        SELECT CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
               CAST(NULL AS DOUBLE)
        WHERE (SELECT min(ok) FROM guard) = 0
    """,
    origin="LLM",
    doc="Near-dup pairs: token-set Jaccard >= 0.95, integer-exact "
        "threshold (no float compare at the boundary). Ground truth for "
        "the LSH recall test. Algorithm (r11 rewrite, both engines): "
        "docs collapse to DISTINCT token-set classes (identical sets "
        "pair at J=1 without ever being compared); candidate class "
        "pairs come from the exact DELETION-NEIGHBORHOOD join (Arasu et "
        "al., SSJoin): J >= num/den bounds the symmetric difference at "
        "d <= i·(den-num)/num, so a qualifying pair MUST share a "
        "delete-<=D(n) subset (D = n div 19 at τ=0.95) — every class "
        "emits its <=D-deletion subset signatures and classes equi-join "
        "on them, making candidate volume OUTPUT-sized; one "
        "array_intersect verifies each candidate. The r5-r10 "
        "unigram-posting self-join is quadratic in document frequency "
        "and collapses on small vocabularies (the SF1 fixture's "
        "40-token vocabulary yields 2.3e10 blocked pairs; even the "
        "AllPairs size-band scan examines 1.3e8 pairs / 312 s — the "
        "neighborhood join finishes in 16 s engine / 13 s oracle). Both "
        "engines RAISE (assert_true / error()) if a class ever needs a "
        "delete-3 neighborhood instead of silently losing pairs. At "
        "100 TB: class count is bounded by content diversity, not "
        "corpus size; the signature join shuffles |classes|·(1+n+C(n,2"
        ")·[n>=38]) bounded-width rows; no posting list is ever "
        "self-joined. Suits short-profile records (tags, field sets); "
        "long-document near-dup belongs to the shingle/MinHash family.",
)
def q_dedup_near_jaccard(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    toks = F.array_sort(F.array_distinct(F.split("text", " ")))
    docs = d.select("doc_id", toks.alias("toks"))
    cls = (
        docs.groupBy("toks")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("toks") >= 1)
        .select(
            "toks", "ids",
            F.size("toks").alias("n"),
            F.concat_ws("\x01", "toks").alias("sig"),
        )
    )
    # Identical-set classes: every member pair is a J=1 near-dup by
    # construction — emitted directly, never intersected.
    within = (
        cls.filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, size(ids) - 2), i -> "
                    "transform(sequence(i + 1, size(ids) - 1), j -> "
                    "struct(ids[i] AS id_a, ids[j] AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b", F.lit(1.0).alias("jaccard"))
    )
    # Deletion-neighborhood candidate generation (Arasu et al., SSJoin):
    # J >= num/den bounds the symmetric difference d <= (den-num)·i/num,
    # so both classes of a qualifying pair reach their intersection by
    # deleting at most D(n) = n·(den-num) div num tokens. Emitting every
    # delete-<=D subset signature and equi-joining on it makes candidate
    # volume OUTPUT-sized (the size-band x array_intersect scan examines
    # every size-compatible class pair — 1.3e8 at SF1, 312 s engine-side;
    # this runs the intersect only on classes already known to share an
    # (n-D)-subset). assert_true raises loudly if a class ever needs a
    # delete-3 neighborhood (n >= 3·num/(den-num)) instead of silently
    # losing pairs.
    d_lim1 = _TAU_NUM // (_TAU_DEN - _TAU_NUM)          # delete-1 from n>=19
    d_lim2 = 2 * _TAU_NUM // (_TAU_DEN - _TAU_NUM)      # delete-2 from n>=38
    d_lim3 = 3 * _TAU_NUM // (_TAU_DEN - _TAU_NUM)      # unsupported: raise
    guard = F.assert_true(
        F.col("n") < d_lim3,
        F.lit(
            "q_dedup_near_jaccard: class size needs delete-3 "
            "neighborhood; extend the dels generator"
        ),
    )
    # coalesce anchors the (NULL-returning) assert in a used expression
    # so column pruning can never drop the check.
    mid = F.col("ids").getItem(0)
    dels = cls.select(
        mid.alias("mid"),
        F.explode(
            F.concat(
                F.array(F.concat(F.col("sig"), F.coalesce(guard.cast("string"), F.lit("")))),
                F.when(F.col("n") >= d_lim1, F.expr(
                    "transform(sequence(0, size(toks) - 1), i -> "
                    "array_join(filter(toks, (x, k) -> k != i), chr(1)))"
                )).otherwise(F.array()),
                F.when(F.col("n") >= d_lim2, F.expr(
                    "flatten(transform(sequence(0, size(toks) - 2), i -> "
                    "transform(sequence(i + 1, size(toks) - 1), j -> "
                    "array_join(filter(toks, (x, k) -> k != i AND k != j), "
                    "chr(1)))))"
                )).otherwise(F.array()),
            )
        ).alias("dsig"),
    )
    candpairs = (
        dels.alias("a")
        .join(dels.alias("b"), F.col("a.dsig") == F.col("b.dsig"))
        .filter(F.col("a.mid") < F.col("b.mid"))
        .select(F.col("a.mid").alias("mid_a"), F.col("b.mid").alias("mid_b"))
        .distinct()
    )
    # No broadcast hint: the class table grows with content diversity,
    # so forcing a broadcast would OOM the driver at 100 TB. Left to AQE
    # (VERDICT r5 #2).
    ca = cls.select(
        mid.alias("mid_a"), F.col("toks").alias("ta"),
        F.col("n").alias("na"), F.col("ids").alias("ia"),
    )
    cb = cls.select(
        mid.alias("mid_b"), F.col("toks").alias("tb"),
        F.col("n").alias("nb"), F.col("ids").alias("ib"),
    )
    i_ = F.size(F.array_intersect("ta", "tb"))
    union_sz = F.col("na") + F.col("nb") - F.col("i")
    qual = (
        candpairs.join(ca, "mid_a")
        .join(cb, "mid_b")
        .withColumn("i", i_)
        .filter(_TAU_DEN * F.col("i") >= _TAU_NUM * union_sz)
    )
    cross = (
        qual.select("ib", "i", "na", "nb", F.explode("ia").alias("da"))
        .select("i", "na", "nb", "da", F.explode("ib").alias("db"))
        .select(
            F.least("da", "db").alias("id_a"),
            F.greatest("da", "db").alias("id_b"),
            F.round(F.col("i") / union_sz.cast("double"), 6).alias("jaccard"),
        )
    )
    return within.unionByName(cross)


@register(
    "q_dedup_incremental",
    oracle="""
        WITH sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text,' ')) - 2),
                       i -> string_split(text,' ')[i] || ' ' ||
                            string_split(text,' ')[i+1] || ' ' ||
                            string_split(text,' ')[i+2]))) AS s
            FROM documents
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT n.doc_id AS doc_id, p.doc_id AS partner_id,
                   count(*) AS i
            FROM sh n JOIN sh p ON n.s = p.s
            WHERE n.doc_id % 5 = 0 AND p.doc_id <> n.doc_id
              AND (p.doc_id % 5 <> 0 OR p.doc_id < n.doc_id)
            GROUP BY 1, 2
        )
        SELECT inter.doc_id AS doc_id, partner_id,
               round(i / CAST(sn.n + sp.n - i AS DOUBLE), 6) AS jaccard,
               partner_id % 5 = 0 AS partner_is_new
        FROM inter
        JOIN sizes sn ON sn.doc_id = inter.doc_id
        JOIN sizes sp ON sp.doc_id = partner_id
        WHERE 10 * i >= 8 * (sn.n + sp.n - i)
    """,
    origin="LLM",
    doc="Incremental near-dup admission — the daily-crawl production "
        "shape: dedup ONLY the new batch (doc_id % 5 = 0, the synthetic "
        "increment) against the frozen corpus index plus earlier "
        "new-batch rows, never re-pairing the historical corpus against "
        "itself. Emits (new doc, partner, 3-word-shingle Jaccard ≥ 0.8, "
        "partner-side flag); shingle features + integer-exact threshold "
        "as q_dedup_ngram_jaccard (unigram-token blocking would collapse "
        "on a small vocabulary — the shingles() rationale — and measured "
        "24s at sf0.1 vs 1.5s shingled). Scale shape: the pair join is "
        "shingle-blocked with the NEW batch on one side, so candidate "
        "volume is ∝ |batch|·posting-depth, not |corpus|² — the "
        "historical (doc_id, shingle) posting table is exactly the "
        "reusable index a production pipeline materializes once and "
        "bucket-joins each increment against (write it bucketed BY s "
        "and the per-drop dedup is shuffle-free on the corpus side).",
)
def q_dedup_incremental(spark, sf_dir):
    d = widen(table(spark, sf_dir, "documents"))
    sh = d.select("doc_id", F.explode(shingles("text")).alias("s"))
    # r15 k=2 rarity-prefix-pair block (see q_dedup_ngram_jaccard — same
    # J ≥ 0.8 lemma, both sides block on unordered PAIRS of their
    # ⌊n/5⌋+2 rarest shingles; singleton docs via the k=1 route): the
    # corpus-side index a production pipeline materializes is then the
    # prefix PAIR postings — free of the Σ df² frequency head the
    # SCALING.json probe measured on the every-shingle block.
    _inc_filter = lambda: (  # noqa: E731
        (F.col("id_p") != F.col("id_n"))
        & ((F.col("id_p") % 5 != 0) | (F.col("id_p") < F.col("id_n")))
    )
    if row_count(sf_dir, "documents") < _PAIR_BLOCK_MIN_DOCS:
        # Small corpus: posting block with the NEW batch on one side
        # (cutover rationale at _PAIR_BLOCK_MIN_DOCS). r16: posting-LIST
        # form (see _posting_intersections) — one groupBy(s) instead of
        # the two-sided self-join, with the new-batch restriction and
        # the orientation filter pushed into the per-shingle combo
        # lambda, so exactly the rows the old join+filter kept are ever
        # emitted.
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        arr = sh.groupBy("s").agg(
            F.sort_array(F.collect_list("doc_id")).alias("ds")
        )
        combos = F.expr(
            "flatten(transform(sequence(0, size(ds) - 1), i -> "
            "filter(transform(sequence(0, size(ds) - 1), j -> "
            "struct(element_at(ds, i + 1) AS n, "
            "element_at(ds, j + 1) AS p)), c -> "
            "c.n % 5 = 0 AND c.p <> c.n "
            "AND (c.p % 5 <> 0 OR c.p < c.n))))"
        )
        inter = (
            arr.filter(F.size("ds") >= 2)
            .select(F.explode(combos).alias("c"))
            .groupBy(
                F.col("c.n").alias("id_n"), F.col("c.p").alias("id_p")
            )
            .agg(F.count(F.lit(1)).alias("i"))
        )
        return _inc_threshold(inter, sizes)
    # One materialization each for the shingle explode and the rarity
    # ranking (guide §2.4/§5.4 — see q_dedup_ngram_jaccard).
    sh = sh.localCheckpoint(eager=True, storageLevel=_SH_CKPT_LEVEL)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ranked = _rarity_ranked(sh).localCheckpoint(
        eager=True, storageLevel=_SH_CKPT_LEVEL
    )
    pref = ranked.filter(5 * F.col("r") <= F.col("n") + 10)
    cand2 = (
        _pair_combos(pref.filter(F.col("doc_id") % 5 == 0), "id_n")
        .join(_pair_combos(pref, "id_p"), "pk")
        .filter(_inc_filter())
        .select("id_n", "id_p")
    )
    single = ranked.filter(F.col("n") == 1)
    cand1 = (
        single.filter(F.col("doc_id") % 5 == 0)
        .select(F.col("doc_id").alias("id_n"), "s")
        .join(single.select(F.col("doc_id").alias("id_p"), "s"), "s")
        .filter(_inc_filter())
        .select("id_n", "id_p")
    )
    cand = (
        cand2.unionByName(cand1)
        .distinct()
        .join(
            sizes.select(F.col("doc_id").alias("id_n"), F.col("n").alias("nn")),
            "id_n",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_p"), F.col("n").alias("np")),
            "id_p",
        )
        .filter(
            (10 * F.col("nn") >= 8 * F.col("np"))
            & (10 * F.col("np") >= 8 * F.col("nn"))
        )
        .select("id_n", "id_p")
    )
    inter = _prefix_pairs_exact(
        sh, cand, left_id="id_n", right_id="id_p",
        n_docs=row_count(sf_dir, "documents"),
    )
    return _inc_threshold(inter, sizes)


def _inc_threshold(inter, sizes):
    """Shared exact-Jaccard threshold + output projection for both
    q_dedup_incremental candidate routes (posting / prefix-pair)."""
    sn = sizes.select(F.col("doc_id").alias("id_n"), F.col("n").alias("nn"))
    sp = sizes.select(F.col("doc_id").alias("id_p"), F.col("n").alias("np"))
    union_sz = F.col("nn") + F.col("np") - F.col("i")
    return (
        inter.join(sn, "id_n")
        .join(sp, "id_p")
        .filter(_NG_DEN * F.col("i") >= _NG_NUM * union_sz)
        .select(
            F.col("id_n").alias("doc_id"),
            F.col("id_p").alias("partner_id"),
            F.round(F.col("i") / union_sz.cast("double"), 6).alias(
                "jaccard"
            ),
            (F.col("id_p") % 5 == 0).alias("partner_is_new"),
        )
    )


_N_HASHES = 32  # MinHash signature length
# 4 bands × 8 rows: P(candidate | J=0.95) ≈ 1-(1-0.95^8)^4 ≈ 0.99.
_N_BANDS = 4
_SHINGLE_K = 3  # word-shingle width


def shingles(text_col):
    """Distinct 3-word shingles of a document.

    Unigram token sets are useless on a ~30-word vocabulary (every doc-pair
    lands at J≈0.9 and LSH buckets explode quadratically — measured 10M+
    candidate pairs at sf0.1); k-word shingles restore a large feature
    space, so band collisions mean real near-duplication, not shared
    vocabulary. This is the standard MinHash formulation for text.
    """
    # Docs shorter than the shingle width yield NO shingles (empty array).
    # The CASE guard matters under ANSI mode (Spark 4 default):
    # element_at past the array end throws INVALID_ARRAY_INDEX, and
    # sequence(1, 0) counts DOWN to [1, 0] — so the bound must stay >= 1
    # and the empty case must be picked before the transform evaluates.
    # Oracles mirror this with generate_series(1, len - k + 1), which is
    # empty in DuckDB when the bound is < 1.
    # Built as ONE JVM-parsed SQL string (guide §5 driver overhead): the
    # Column-API formulation with a Python transform() lambda cost ~200
    # py4j round-trips per call site, and this helper fronts every
    # shingle-family key (~12 bench keys pay it). `text_col` is the
    # column NAME; the expression tree is byte-for-byte the old one
    # (i + 0 / - _SHINGLE_K + 1 shapes preserved).
    toks = f"split({text_col}, ' ')"
    grams = ", ".join(
        f"element_at({toks}, i + {off})" for off in range(_SHINGLE_K)
    )
    return F.expr(
        f"CASE WHEN size({toks}) >= {_SHINGLE_K} THEN array_distinct("
        f"transform(sequence(1, size({toks}) - {_SHINGLE_K} + 1),"
        f" i -> concat_ws(' ', {grams})))"
        f" ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def _rarity_ranked(sh):
    """Per-document global-rarity rank of each distinct shingle — the
    candidate-prefix machinery of exact set-similarity self-joins
    (AllPairs / PPJoin family; Bayardo et al. WWW'07, Xiao et al.
    WWW'08 — public literature).

    Input: ``sh`` = (doc_id, s), distinct shingles per doc. Output adds
    ``r`` — the 1-based rank of s within its doc under the GLOBAL total
    order (document-frequency asc, shingle asc) — and ``n``, the doc's
    distinct-shingle count.

    WHY (SCALING.json, r15): blocking a similarity self-join on EVERY
    shingle makes the join output Σ_s df(s)² — the head of the shingle
    frequency distribution grows that quadratically in corpus size
    (measured: q_dedup_containment exp_sf1_sf3 = 2.18, 430 s at SF3).
    The prefix lemma makes a tiny blocking set lossless: under ANY fixed
    global order, if |A∩B| ≥ α then the (|A|−α+1)-prefix of A and the
    (|B|−α+1)-prefix of B intersect (if they were disjoint, every common
    element would have to sit strictly after the later prefix end on one
    side, leaving < α common elements). Rarity order makes that prefix
    the doc's RAREST shingles, so the candidate join's output is
    Σ_{s∈prefixes} df_pref(s)·df(s) — near-linear on Zipfian text, and a
    shingle can only be in many prefixes if it is globally rare.
    Correctness never depends on the order (any total order satisfies
    the lemma); rarity is pure performance, ties broken by shingle value
    so ranks are deterministic at any partitioning.

    Two extra linear shuffles (df aggregate on s; per-doc window on
    doc_id) buy the asymptotic drop — at 100 TB the df table and the
    ranked posting list are exactly what a production pipeline
    materializes once per corpus snapshot.
    """
    from pyspark.sql import Window

    df = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    w_rank = Window.partitionBy("doc_id").orderBy("df", "s")
    w_doc = Window.partitionBy("doc_id")
    # shuffle_hash, pinned (guide §3.1): df is VOCABULARY-sized — it must
    # never broadcast (r16: AQE flipped it to a multi-million-row
    # broadcast build off the checkpointed sh's stats and OOM'd the SF3
    # sweep); both sides are already hash-partitionable on s and the
    # join needs no sort.
    return sh.join(df.hint("shuffle_hash"), "s").select(
        "doc_id",
        "s",
        F.row_number().over(w_rank).alias("r"),
        F.count(F.lit(1)).over(w_doc).alias("n"),
    )


def _pair_combos(rows, id_alias):
    """(doc_id, s) rows → (id_alias, pk): one row per unordered 2-subset
    of each doc's shingle rows, pk = xxhash64(s1, s2) with s1 < s2.

    The k=2 prefix-lemma block key (r15): the k=1 single-shingle block
    saturates on a bounded vocabulary — every shingle's df grows ∝ corpus
    (measured: 19M candidates for 7k true pairs at SF1) — but a PAIR of
    specific shingles co-occurs with frequency ~df²/|docs|, which stays
    O(1) per doc. The lemma generalizes: if |A∩B| ≥ α ≥ 2, the
    (n−α+2)-prefixes share at least TWO common elements (the k=1 proof
    verbatim: common elements past the later prefix-max number ≤ α−2, so
    ≥ 2 sit inside both prefixes), hence the two sides share an unordered
    prefix-pair. Hash collisions in pk only ADD candidates — the exact
    verification recount keeps the output lossless.

    Per-doc combos via sorted array + nested transform (the e_emb_pca
    gram pattern) — no self-join; the guard excludes size<2 docs, which
    route through the k=1 singleton block instead."""
    arr = rows.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("s")).alias("ss")
    )
    combos = F.expr(
        "flatten(transform(sequence(0, size(ss) - 2), i -> "
        "transform(sequence(i + 1, size(ss) - 1), j -> "
        "xxhash64(element_at(ss, i + 1), element_at(ss, j + 1)))))"
    )
    return arr.filter(F.size("ss") >= 2).select(
        F.col("doc_id").alias(id_alias), F.explode(combos).alias("pk")
    )


# Second cost-based cutover (r16), same CBO pattern as
# _PAIR_BLOCK_MIN_DOCS and output-identical on both sides: the recount
# semi-join prefilter (guide §3.2) pays ~4 fixed extra stages (two
# distinct-id builds + two semi joins) to shrink the shingle legs before
# the (id, s) shuffle. Same-window A/B at the fixtures: SF1 (50k docs)
# LOSES ~4 s (10.7 → 14.8 s on ngram — the saved shuffle is ~1 s there),
# SF3 (150k docs) WINS ~10-17 s (ngram 45.8 → 36.3, containment
# 58.4 → 41.1 — the full-table (id, s) shuffle it removes is 22M rows).
# The fixed cost is scale-invariant while the savings grow linearly, so
# the cutover sits between the two measured points.
_RECOUNT_SEMI_MIN_DOCS = 100_000


def _prefix_pairs_exact(sh, cand, left_id="id_a", right_id="id_b",
                        n_docs=0):
    """Exact |A∩B| for the candidate pairs: two pair-bounded joins back
    to the full shingle lists (cand ⋈ sh_A on the left id expands each
    pair to A's shingles — Σ_pairs |A| rows — and the inner join on
    (right id, s) keeps exactly the shared ones). Returns
    (left_id, right_id, i).

    r16 (guide §3.2 — reduce the big side before shuffling it): at or
    above _RECOUNT_SEMI_MIN_DOCS documents, both shingle legs are
    semi-join-restricted to the doc ids that actually appear in ``cand``
    BEFORE the equi joins. Only ~2·|cand| of the corpus's documents
    participate in any recount, so the (right id, s) join — which
    otherwise shuffles the FULL shingle table (22M rows at SF3) — now
    shuffles just the candidate docs' shingles. Output is unchanged on
    either route (the equi joins discarded every non-candidate row
    anyway, and a semi join never drops a matching one). On the semi
    route the candidate list — read by three branches — is materialized
    once (bounded by the block's support)."""
    if n_docs >= _RECOUNT_SEMI_MIN_DOCS:
        cand = cand.localCheckpoint(eager=True)
        ids_a = cand.select(F.col(left_id).alias("doc_id")).distinct()
        ids_b = cand.select(F.col(right_id).alias("doc_id")).distinct()
        # hint("shuffle_hash") on the filtered legs (guide §3.1 — pick
        # the strategy deliberately): post-semi-join, AQE's size
        # estimate for a leg drops enough to flip it to a BROADCAST
        # build of ~10⁶ shingle rows — measured "Not enough memory to
        # build and broadcast" at SF3 with three invocations' builds
        # resident. Shuffle-hash keeps the legs partitioned (they are
        # small post-filter, no sort needed) and bounds memory to one
        # partition's build side.
        sha = (
            sh.join(ids_a, "doc_id", "left_semi")
            .select(F.col("doc_id").alias(left_id), "s")
            .hint("shuffle_hash")
        )
        shb = (
            sh.join(ids_b, "doc_id", "left_semi")
            .select(F.col("doc_id").alias(right_id), "s")
            .hint("shuffle_hash")
        )
    else:
        sha = sh.select(F.col("doc_id").alias(left_id), "s")
        shb = sh.select(F.col("doc_id").alias(right_id), "s")
    return (
        cand.join(sha, left_id)
        .join(shb, [right_id, "s"])
        .groupBy(left_id, right_id)
        .agg(F.count(F.lit(1)).alias("i"))
    )


# Cost-based candidate-route cutover (r15). Two exact, hash-identical
# candidate generators exist for the shingle-Jaccard family:
#   posting block — join the shingle posting lists directly; ONE shuffle,
#     no prelude, but the candidate volume is Σ_s df(s)², which
#     SCALING.json measured growing quadratically on the frequency head
#     (containment exp 2.18, 430 s at SF3 on the decimate corpus);
#   rarity-prefix-PAIR block (_rarity_ranked/_pair_combos) — near-linear
#     by the generalized prefix lemma, but its df-aggregate + rank-window
#     + combo-explode prelude adds ~4 linear stages that DOMINATE a small
#     corpus (sf0.1, 5k docs: ngram 1.13 s posting vs 3.41 s pair in the
#     r15 committed bench pair).
# SCALING.json's measured crossover sits near SF1 (50k docs: posting
# 21.05 s vs pair 20.19 s), so the operators pick the route from a
# one-job count of the pruned documents scan: posting below
# _PAIR_BLOCK_MIN_DOCS, prefix-pair at or above it — the same
# cardinality-driven physical-plan choice a cost-based optimizer makes,
# with both routes' output equality pinned by the route test in
# tests/test_llm.py and by the fixture sweeps (sf0.01 exercises posting,
# SF1/SF3 exercise prefix-pair).
_PAIR_BLOCK_MIN_DOCS = 20_000

# Storage level for the pair route's corpus-sized materializations (the
# per-invocation shingle table and its rarity ranking — r16). DISK_ONLY,
# not the MEMORY_AND_DISK default: these blocks are read back a handful
# of times sequentially, while keeping tens of millions of shingle rows
# in the unified memory region starves broadcast/join execution memory —
# the r16 SF3 sweep hit "Not enough memory to build and broadcast" with
# three invocations' MEMORY_AND_DISK blocks resident (guide §5: cached
# data competes with execution memory). Local disk re-read is linear IO,
# still ~an order cheaper than re-running the shingle explode per branch.
from pyspark import StorageLevel as _SL  # noqa: E402

_SH_CKPT_LEVEL = _SL.DISK_ONLY


def _posting_intersections(sh, left_id, right_id, *, symmetric):
    """Exact |A∩B| for every co-shingled doc pair via per-shingle posting
    LISTS — the small-corpus candidate route (see _PAIR_BLOCK_MIN_DOCS).
    ``symmetric=True`` keeps each unordered pair once (id_a < id_b);
    ``False`` keeps both orientations for directional scores.

    r16 (guide §2.4): formerly a posting self-JOIN — shuffle sh by s
    TWICE (both join sides), equi-join, then shuffle the joined stream a
    third time for the pair groupBy, and each join side re-ran the
    shingle explode upstream. The posting-list form groups by s ONCE
    (one shuffle, one explode), collects the sorted per-shingle doc
    list, and emits the ordered 2-subsets with a nested transform (the
    _pair_combos shape) straight into the pair aggregate: identical
    (pair, count-of-shared-shingles) output — per shingle the emitted
    pairs ARE the join's matches — with one Exchange and zero joins
    removed. Per-shingle list size is document frequency, bounded here
    by construction: this route only runs below _PAIR_BLOCK_MIN_DOCS
    docs (the prefix-pair route owns volume)."""
    arr = sh.groupBy("s").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    if symmetric:
        combos = F.expr(
            "flatten(transform(sequence(0, size(ds) - 2), i -> "
            "transform(sequence(i + 1, size(ds) - 1), j -> "
            "struct(element_at(ds, i + 1) AS a, "
            "element_at(ds, j + 1) AS b))))"
        )
    else:
        # Both orientations of each distinct pair; equal ids (duplicate
        # doc_id rows cannot occur: sh carries distinct shingles per doc)
        # are excluded by construction since i <> j over the sorted list
        # of distinct ids.
        combos = F.expr(
            "flatten(transform(sequence(0, size(ds) - 1), i -> "
            "filter(transform(sequence(0, size(ds) - 1), j -> "
            "struct(element_at(ds, i + 1) AS a, "
            "element_at(ds, j + 1) AS b)), p -> p.a <> p.b)))"
        )
    return (
        arr.filter(F.size("ds") >= 2)
        .select(F.explode(combos).alias("p"))
        .groupBy(
            F.col("p.a").alias(left_id), F.col("p.b").alias(right_id)
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )


# Carter-Wegman MinHash family (r12, VERDICT r11 #2): h_i = (a_i·w1 +
# b_i·w2) mod p over TWO independent 60-bit words of ONE md5 per shingle
# (hex chars 1-15 and 16-30), p = 2^31-1. Every step is exact int64
# arithmetic both engines compute identically (products < 2^62 — no
# overflow even under ANSI), which is what lets the full LSH path replay
# as a DuckDB oracle. Mixing note (the r5 lesson): the old xxhash64
# family re-mixed a SHARED 64-bit h1 per function; this family draws on
# 120 shared bits with per-function independent multipliers — strictly
# better decorrelated across bands (recall gates in tests/test_llm.py
# and the 50k-doc stress corpus re-verified on the swap).
_MH_P = (1 << 31) - 1


def _mh_coeffs():
    import hashlib

    def h15(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    a = [h15(f"mh-a:{i}") % (_MH_P - 1) + 1 for i in range(_N_HASHES)]
    b = [h15(f"mh-b:{i}") % _MH_P for i in range(_N_HASHES)]
    return a, b


_MH_A, _MH_B = _mh_coeffs()
_MH_ROWS = _N_HASHES // _N_BANDS


def _minhash_lsh_sql() -> str:
    w1 = "CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT)"
    w2 = "CAST(concat('0x', substring(md5(s), 16, 15)) AS BIGINT)"
    mins = ",\n                   ".join(
        f"min((({_MH_A[i]} * (({w1}) % {_MH_P})) % {_MH_P}"
        f" + ({_MH_B[i]} * (({w2}) % {_MH_P})) % {_MH_P}) % {_MH_P})"
        f" AS h{i}"
        for i in range(_N_HASHES)
    )
    bands = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({cat}) AS sig FROM sig".format(
            b=b,
            cat=" || ',' || ".join(
                f"CAST(h{b * _MH_ROWS + r} AS VARCHAR)"
                for r in range(_MH_ROWS)
            ),
        )
        for b in range(_N_BANDS)
    )
    return f"""
        WITH sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text,' ')) - 2),
                       i -> string_split(text,' ')[i] || ' ' ||
                            string_split(text,' ')[i+1] || ' ' ||
                            string_split(text,' ')[i+2]))) AS s
            FROM documents
        ), sig AS (
            SELECT doc_id,
                   {mins}
            FROM sh
            GROUP BY doc_id
        ), bands AS ({bands})
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.sig = b.sig
             AND a.doc_id < b.doc_id
    """


@register(
    "E-MINHASH-LSH",
    oracle=_minhash_lsh_sql(),
    origin="LLM",
    doc="Scalable near-dup candidates: per-doc MinHash signature from the "
        "integer-exact Carter-Wegman md5 family (see _mh_coeffs) over "
        f"distinct 3-word shingles, banded into {_N_BANDS} LSH buckets; "
        "candidate pairs share >= 1 band. Shuffle cost is |docs| x bands, "
        "never |docs|^2 — the 100 TB path. Oracle-ized r12 by the "
        "E-EMB-LSH playbook: one md5 per shingle yields two independent "
        "60-bit words, each h_i is an exact (a_i·w1 + b_i·w2) mod 2^31-1 "
        "with per-function literal coefficients, and band signatures are "
        "md5 over the comma-joined minima — every step replayable in "
        "DuckDB, so the full candidate set gets a strict cross-engine "
        "hash verdict on top of the recall gates in tests/test_llm.py "
        "and tests/test_stress_scale.py.",
)
def e_minhash_lsh(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    # widen(): shingling + md5 + 32 partial mins is CPU-bound, and the
    # local fixture parquet is a single row group (one scan task);
    # spreading the scan output first is a measured 3x on local[32].
    dt = widen(d).select("doc_id", F.explode(shingles("text")).alias("tok"))
    # ONE md5 per shingle; the 32 functions are multiply-add-mod over the
    # two 60-bit words — whole-stage-codegen'd integer ops, so the
    # expensive string hashing happens once. Deliberately explode +
    # hash-aggregate rather than array higher-order functions: exploded-
    # row expressions are codegen'd while transform lambdas are
    # interpreted per element (measured 3-5x slower). The hash agg does
    # partial (map-side) min, so the shuffle is |docs| x 32 longs, not
    # |docs x shingles|.
    md = F.md5("tok")
    w1 = F.conv(F.substring(md, 1, 15), 16, 10).cast("long") % _MH_P
    w2 = F.conv(F.substring(md, 16, 15), 16, 10).cast("long") % _MH_P
    hashed = dt.select("doc_id", w1.alias("w1"), w2.alias("w2"))

    # The 32 min-hash aggregates, band md5s, and band explode are built as
    # SQL strings parsed JVM-side (guide §5 driver overhead): the
    # equivalent Column-API loops cost ~5,700 py4j round-trips (~0.6 s of
    # serial driver time per invocation) constructing the identical tree.
    mins = hashed.groupBy("doc_id").agg(
        *[
            F.expr(
                f"min((({_MH_A[i]} * w1) % {_MH_P}"
                f" + ({_MH_B[i]} * w2) % {_MH_P}) % {_MH_P}) AS h{i}"
            )
            for i in range(_N_HASHES)
        ]
    )
    band_cols = [
        F.expr(
            "md5(concat_ws(',', "
            + ", ".join(
                f"CAST(h{b * _MH_ROWS + r} AS STRING)"
                for r in range(_MH_ROWS)
            )
            + f")) AS band{b}"
        )
        for b in range(_N_BANDS)
    ]
    banded = mins.select("doc_id", *band_cols)
    # doc → (band_idx, band_hash) rows; bucket-join per band.
    band_structs = ", ".join(
        f"named_struct('band', {b}, 'sig', band{b})" for b in range(_N_BANDS)
    )
    long_form = banded.select(
        "doc_id", F.expr(f"explode(array({band_structs}))").alias("bs")
    ).select("doc_id", "bs.band", "bs.sig")
    l = long_form.select(F.col("doc_id").alias("id_a"), "band", "sig")
    r = long_form.select(F.col("doc_id").alias("id_b"), "band", "sig")
    return (
        l.join(r, ["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Extended dedup family (BASELINE.json mandate): SimHash, n-gram Jaccard,
# embedding-cosine near-dup. Each is a distinct rung: bit-sketch hamming,
# set overlap on shingles, and dense-vector similarity.
# ---------------------------------------------------------------------------

from xml_processor_spark.functions.deterministic import phash60, phash60_sql  # noqa: E402

_SIM_BITS = 32
_HAM_MAX = 3


def _simhash_oracle() -> str:
    h = phash60_sql("tok")
    bit_sums = ",\n               ".join(
        f"SUM(CASE WHEN (({h}) >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(_SIM_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(_SIM_BITS)
    )
    # Sketch over distinct 3-word shingles, not unigram tokens: the fixture
    # corpus has a ~30-word vocabulary, so unigram token sets are near-equal
    # across ALL documents and a token SimHash collapses — measured 6.1M of
    # 12.5M possible pairs within hamming 6 at sf0.1, i.e. no signal. Over
    # shingles, hamming <= 3 isolates genuinely near-duplicate pairs (same
    # feature-space lesson as the MinHash shingle choice above).
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text,' ')) - 2),
                       i -> string_split(text,' ')[i] || ' ' ||
                            string_split(text,' ')[i+1] || ' ' ||
                            string_split(text,' ')[i+2]))) AS tok
            FROM documents
        ), sums AS (
            SELECT doc_id,
               {bit_sums}
            FROM toks GROUP BY doc_id
        ), fp AS (
            SELECT doc_id, {fp} AS fp FROM sums
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fp, b.fp)) <= {_HAM_MAX}
    """


@register(
    "q_dedup_simhash",
    oracle=_simhash_oracle(),
    origin="LLM",
    doc=f"SimHash near-dup: {_SIM_BITS}-bit per-doc sketch from a portable "
        "md5-derived 3-word-shingle hash (sign-of-sum per bit), pairs at "
        f"hamming <= {_HAM_MAX} via bit_count(xor). Pair generation is an "
        f"EXACT banded equi-join: {_HAM_MAX + 1} bands of "
        f"{_SIM_BITS // (_HAM_MAX + 1)} bits — a pair within hamming "
        f"{_HAM_MAX} must match on >= 1 band (pigeonhole), so bucketing on "
        "(band, bits) + exact hamming rescore returns the identical result "
        "with shuffle |docs| x bands, never O(n^2). Shingles, not unigrams: "
        "on this ~30-word vocabulary a token sketch collapses (6.1M/12.5M "
        "pairs within hamming 6).",
)
def q_dedup_simhash(spark, sf_dir):
    d = widen(table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", F.explode(shingles("text")).alias("tok"))
    # Materialize the shingle hash ONCE before the aggregation: referencing
    # phash60(tok) inside all 32 bit-sum aggregates lets Catalyst inline the
    # md5+conv expression into every partial agg (50 md5 nodes in the plan);
    # a named projection keeps it at 1 hash per shingle (measured ~25%
    # faster here, and the per-shingle cost is what scales with corpus
    # size — same lesson as the MinHash HOF rejection in BASELINE.md).
    hashed = toks.select("doc_id", phash60("tok").alias("h"))
    # The 32 bit-sum aggregates and the 32-term fingerprint fold are built
    # as SQL strings parsed JVM-side (guide §5 driver overhead): the
    # equivalent Column-API loops cost ~6,600 py4j round-trips (~0.7 s of
    # serial driver time per invocation) constructing the identical
    # expression tree.
    sums = hashed.groupBy("doc_id").agg(
        *[
            F.expr(f"sum((shiftright(h, {j}) & 1) * 2 - 1) AS s{j}")
            for j in range(_SIM_BITS)
        ]
    )
    fp_sql = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for j in range(_SIM_BITS)
    )
    fp = sums.select("doc_id", F.expr(fp_sql).alias("fp"))
    # Banded candidate generation (VERDICT r1 #3): any pair with hamming
    # <= _HAM_MAX differs in at most _HAM_MAX of the _HAM_MAX+1 bands, so
    # it agrees exactly on >= 1 band. An equi join on (band, bits) plus an
    # exact hamming rescore is therefore IDENTICAL to the all-pairs theta
    # join — same oracle — but shuffles |docs| x bands rows instead of
    # building an O(n^2) BroadcastNestedLoopJoin.
    n_bands = _HAM_MAX + 1
    # Pigeonhole needs every bit banded: a floored band_w would leave the
    # top bits outside every band (weaker filter → missed pairs), and
    # band_w == 0 degenerates to a full cross join.
    assert _SIM_BITS % n_bands == 0, (_SIM_BITS, n_bands)
    band_w = _SIM_BITS // n_bands
    band_structs = ", ".join(
        f"named_struct('band', {bnd}, 'bits',"
        f" shiftrightunsigned(fp, {bnd * band_w}) & {(1 << band_w) - 1})"
        for bnd in range(n_bands)
    )
    banded = fp.select(
        "doc_id", "fp",
        F.expr(f"explode(array({band_structs}))").alias("bb"),
    ).select("doc_id", "fp", "bb.band", "bb.bits")
    a = banded.select(
        F.col("doc_id").alias("id_a"), F.col("fp").alias("fp_a"), "band", "bits"
    )
    b = banded.select(
        F.col("doc_id").alias("id_b"), F.col("fp").alias("fp_b"), "band", "bits"
    )
    return (
        a.join(b, ["band", "bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
            .cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= _HAM_MAX)
        .distinct()  # a pair may collide on several bands
    )


# Integer-exact shingle-Jaccard threshold: J >= 0.8  ⇔  10*i >= 8*(union)
_NG_NUM, _NG_DEN = 8, 10

# Shared by q_dedup_ngram_jaccard (as its whole oracle) and
# q_dedup_cluster (as the edge set of its recursive-CTE oracle).
# MATERIALIZED hints are load-bearing at big SFs: when this block sits
# inside a WITH RECURSIVE consumer, DuckDB would otherwise INLINE the
# CTE chain and re-evaluate the O(sum df^2) shingle self-join on every
# recursion step — at the SF1 fixture that re-evaluation filled a 40 GB
# spill cap before converging (r10 sweep's one oracle-side failure);
# materialized, the whole funnel truth completes in ~90 s.
_NGRAM_PAIRS_SQL = f"""
        WITH sh AS MATERIALIZED (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text,' ')) - 2),
                       i -> string_split(text,' ')[i] || ' ' ||
                            string_split(text,' ')[i+1] || ' ' ||
                            string_split(text,' ')[i+2]))) AS s
            FROM documents
        ), sizes AS MATERIALIZED (
            SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        ), inter AS MATERIALIZED (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(i / CAST(sa.n + sb.n - i AS DOUBLE), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE {_NG_DEN} * i >= {_NG_NUM} * (sa.n + sb.n - i)
"""


@register(
    "q_dedup_ngram_jaccard",
    oracle=_NGRAM_PAIRS_SQL,
    origin="LLM",
    doc="n-gram (3-word shingle) Jaccard near-dup pairs at >= 0.8 — the "
        "order-sensitive counterpart of token-set Jaccard (detects copies, "
        "not just shared vocabulary); the exact truth E-MINHASH-LSH "
        "approximates. Candidates via the lossless rarity-prefix block "
        "(r15, _rarity_ranked: the every-shingle block is Σ df² on the "
        "frequency head — the SCALING.json quadratic): J ≥ 0.8 forces "
        "the two docs' ⌊n/5⌋+1-rarest-shingle prefixes to intersect "
        "(prefix lemma with α = ⌈0.8·max(na,nb)⌉), so the block joins "
        "prefix × prefix; the 10·min ≥ 8·max length filter then prunes "
        "impossible pairs before the exact pair-bounded intersection "
        "recount. Output identical to the all-shingle formulation (the "
        "oracle keeps it).",
)
def q_dedup_ngram_jaccard(spark, sf_dir):
    # widen(): shingle building is CPU-heavy per row; the candidate join
    # below re-shuffles on the shingle anyway, so this only parallelizes
    # the map side.
    d = widen(table(spark, sf_dir, "documents"))
    sh = d.select("doc_id", F.explode(shingles("text")).alias("s"))
    if row_count(sf_dir, "documents") < _PAIR_BLOCK_MIN_DOCS:
        # Small corpus: the posting block's one shuffle beats the pair
        # machinery's prelude (cutover rationale at _PAIR_BLOCK_MIN_DOCS).
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        inter = _posting_intersections(sh, "id_a", "id_b", symmetric=True)
    else:
        # Materialize the shingle explode and the rarity ranking exactly
        # ONCE per invocation (guide §2.4/§5.4 — the _ngram_pairs_pinned
        # rationale one level down): lazily, `sh` feeds FIVE non-aligned
        # plan branches (df aggregate, rank join, sizes, both recount
        # legs) and `ranked` four (two _pair_combos sides, the singleton
        # route's two legs), so the SF1 pair-route plan re-ran the
        # corpus-wide shingle explode 14 times (plans/r16/
        # q_dedup_ngram_jaccard_sf1_before.txt: 14 documents scans).
        # Same pattern as the pagerank/pair-list pins; output unchanged.
        sh = sh.localCheckpoint(eager=True, storageLevel=_SH_CKPT_LEVEL)
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        ranked = _rarity_ranked(sh).localCheckpoint(
            eager=True, storageLevel=_SH_CKPT_LEVEL
        )
        # k=2 prefix lemma, symmetric: J ≥ 4/5 ⟹ i ≥ ⌈0.8·max(na, nb)⌉
        # and (for max ≥ 2, i.e. any pair that is not singleton-singleton)
        # the two (n − ⌈0.8n⌉ + 2 = ⌊n/5⌋+2)-prefixes share TWO elements
        # (r ≤ ⌊n/5⌋+2 ⇔ 5·r ≤ n+10) — block prefix-PAIRS on both sides.
        pref = ranked.filter(5 * F.col("r") <= F.col("n") + 10)
        cand2 = (
            _pair_combos(pref, "id_a")
            .join(_pair_combos(pref, "id_b"), "pk")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        # k=1 route: singleton-singleton identical docs (max = 1 forces
        # na = nb = 1 — any larger partner caps J at 1/2 < 0.8).
        single = ranked.filter(F.col("n") == 1)
        cand1 = (
            single.select(F.col("doc_id").alias("id_a"), "s")
            .join(single.select(F.col("doc_id").alias("id_b"), "s"), "s")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        cand = cand2.unionByName(cand1).distinct()
        # Length filter: i ≤ min and 9i ≥ 4(na+nb) ⟹ 10·min ≥ 8·max.
        cand = (
            cand.join(
                sizes.select(
                    F.col("doc_id").alias("id_a"), F.col("n").alias("na")
                ),
                "id_a",
            )
            .join(
                sizes.select(
                    F.col("doc_id").alias("id_b"), F.col("n").alias("nb")
                ),
                "id_b",
            )
            .filter(
                (10 * F.col("na") >= 8 * F.col("nb"))
                & (10 * F.col("nb") >= 8 * F.col("na"))
            )
            .select("id_a", "id_b")
        )
        inter = _prefix_pairs_exact(
            sh, cand, n_docs=row_count(sf_dir, "documents")
        )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    union_sz = F.col("na") + F.col("nb") - F.col("i")
    # No broadcast hint on the corpus-sized per-doc size table (see
    # q_dedup_near_jaccard) — AQE picks broadcast at test SFs only.
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(_NG_DEN * F.col("i") >= _NG_NUM * union_sz)
        .select(
            "id_a", "id_b",
            F.round(F.col("i") / union_sz.cast("double"), 6).alias("jaccard"),
        )
    )


_COS_TAU = 0.35


@register(
    "q_dedup_emb_cosine",
    # The pair dot runs on list_dot_product over pre-cast DOUBLE lists
    # (bit-identical to the correlated-unnest SUM — probed on all 400k
    # sf0.1 IVF assignment pairs, max |diff| 0.0): DuckDB materializes a
    # correlated unnest as a 64-row expansion PER PAIR, and the all-pairs
    # grid at the SF1 fixture (2e8 pairs x 2 dots) exhausted the spill
    # disk (r11 sweep catch). Inline evaluation keeps the truth feasible
    # at every fixture the engines are compared on.
    oracle=f"""
        WITH norms AS MATERIALIZED (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed,
                   sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                         FROM (SELECT unnest(embedding) AS x))) AS nrm
            FROM embeddings
        ), scored AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   list_dot_product(a.ed, b.ed) / a.nrm / b.nrm AS sim_raw
            FROM norms a JOIN norms b ON a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, round(sim_raw, 6) AS sim
        FROM scored WHERE sim_raw >= {_COS_TAU}
    """,
    origin="LLM",
    doc=f"Embedding-cosine near-dup pairs (cos >= {_COS_TAU}) in double "
        "precision — semantic-duplicate detection over the vector column; "
        "the all-pairs form is the exact truth for bucketed variants "
        "(E-KNN-IVF holds the scale path).",
)
def q_dedup_emb_cosine(spark, sf_dir):
    # widen(): the per-pair dot product is an interpreted zip_with over
    # 64-dim arrays and the all-pairs nested loop streams from the scan —
    # one row group locally = one core without the repartition (measured
    # 24.5s -> ~1s at sf0.1).
    e = widen(table(spark, sf_dir, "embeddings"))
    dot = F.aggregate(
        F.zip_with(
            F.col("ea"), F.col("eb"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm2 = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    a = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        F.sqrt(norm2(F.col("embedding"))).alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        F.sqrt(norm2(F.col("embedding"))).alias("nb"),
    )
    sim = dot / F.col("na") / F.col("nb")
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("sim_raw", sim)
        .filter(F.col("sim_raw") >= _COS_TAU)
        .select("id_a", "id_b", F.round("sim_raw", 6).alias("sim"))
    )


# Sign-LSH family for embedding near-dup candidate generation.
# Tuned by simulation on the real embeddings (tools note, round 3): at the
# q_dedup_emb_cosine threshold 0.35 the truth-pair mass sits right at the
# threshold (p_agree = 1 - acos(0.35)/pi ~= 0.61 per hyperplane), so
# 6-bit x 48-band gives measured recall 0.946 with a 0.53 candidate
# fraction — the best recall/pruning tradeoff among (3,12)..(6,48).
# At realistic near-dup thresholds (cos >= 0.8) the identical machinery
# prunes ~6x harder; the structural win either way is replacing the O(n^2)
# BroadcastNestedLoopJoin with |vecs| x bands shuffled rows + equi joins.
_EMB_BANDS = 48
_EMB_BAND_BITS = 6


def _cosine_rescore(cand, vecs, tau: float):
    """Exact double-precision cosine over candidate pairs, kept if >= tau.

    Precision 1.0 by construction: every emitted pair is exactly scored
    with the SAME fold expressions as q_dedup_emb_cosine, so the emitted
    (pair, sim) rows are literally a subset of that truth table. JVM
    higher-order functions (zip_with/aggregate), no Python. Per pair it
    ships both 64-dim arrays through the vec_id joins — at the dense
    τ=0.35 family (~0.53 candidate fraction) that is ~2x a bucketed
    numpy-matmul scorer (measured 3.9s vs 2.0s at sf0.1), a cost paid
    deliberately: the fold's summation order is the one the oracle
    replays, where a dgemm's pairwise blocking carries a last-ulp
    round-6 hazard."""
    dot = F.aggregate(
        F.zip_with(
            F.col("ea"), F.col("eb"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm2 = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    va = vecs.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        F.sqrt(norm2(F.col("embedding"))).alias("na"),
    )
    vb = vecs.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        F.sqrt(norm2(F.col("embedding"))).alias("nb"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("sim_raw", dot / F.col("na") / F.col("nb"))
        .filter(F.col("sim_raw") >= tau)
        .select("id_a", "id_b", F.round("sim_raw", 6).alias("sim"))
    )


def _emb_lsh_candidates(spark, sf_dir):
    """The 48x6 (τ=0.35) candidate stream over the fixture embeddings."""
    e = widen(table(spark, sf_dir, "embeddings"))
    return _int_lsh_pairs(e, _EMB_BANDS, _EMB_BAND_BITS)


_EMB_HI_MOD = 2001  # integer mix range for the plant factor / planes


def _planes_sql(n_planes: int) -> str:
    """The md5-derived integer hyperplane family as a DuckDB CTE — the
    SQL replay of :func:`_int_planes` at any plane count (64-dim fixed,
    like the fixture)."""
    return f"""
        planes AS (
            SELECT d, k, (ascii(substring(h, 1, 1)) * 4096
                          + ascii(substring(h, 2, 1)) * 256
                          + ascii(substring(h, 3, 1)) * 16
                          + ascii(substring(h, 4, 1))) % {_EMB_HI_MOD}
                         - {(_EMB_HI_MOD - 1) // 2} AS p
            FROM (
                SELECT gd.d, gk.k,
                       md5(CAST(gd.d AS VARCHAR) || ':'
                           || CAST(gk.k AS VARCHAR)) AS h
                FROM (SELECT unnest(generate_series(0, 63)) AS d) gd,
                     (SELECT unnest(generate_series(0,
                          {n_planes - 1})) AS k) gk
            )
        )"""


def _emb_lsh_sql(bands: int, bits: int, tau: float) -> str:
    """DuckDB replay of the integer-exact sign-LSH + float-fold rescore
    over the raw embeddings table at a given band geometry — the
    E-EMB-LSH-HI oracle method minus the plant, parameterized so the
    τ=0.35 and τ=0.9 families share one SQL formulation."""
    return f"""
        WITH g64 AS (SELECT unnest(generate_series(0, 63)) AS d),
        corpus AS MATERIALIZED (
            SELECT vec_id, g64.d,
                   CAST(floor(CAST(embedding[g64.d + 1] AS DOUBLE)
                              * 1000000 + 0.5) AS BIGINT) AS ve6
            FROM embeddings, g64 WHERE g64.d < len(embedding)
        ),{_planes_sql(bands * bits)},
        proj AS (
            SELECT c.vec_id, p.k, sum(c.ve6 * p.p) AS s
            FROM corpus c JOIN planes p USING (d)
            GROUP BY 1, 2
        ),
        codes AS (
            SELECT vec_id, k // {bits} AS band,
                   CAST(sum(CASE WHEN s > 0 THEN
                        1 << ({bits - 1} - (k % {bits}))
                        ELSE 0 END) AS INTEGER) AS code
            FROM proj GROUP BY 1, 2
        ),
        norms AS MATERIALIZED (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed,
                   sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                         FROM (SELECT unnest(embedding) AS x))) AS nrm
            FROM embeddings
        ),
        -- Score the ALL-pairs stream first (list_dot_product inline —
        -- bit-equal to the correlated-unnest SUM, probed max |diff| 0.0;
        -- the inequality join streams block-wise, measured 17 s on the
        -- 2e8-pair SF1 grid), keep the τ-survivors (sparse), THEN
        -- semi-join the survivors against the RAW band collisions.
        -- The dense τ=0.35 family's ~0.53-fraction candidate set
        -- (~1e8 pairs at SF1) is never materialized with arrays
        -- attached, and EXISTS tolerates multi-band duplicate
        -- collisions without a 1e8-group dedup hash table — both of
        -- which exhausted the spill disk in earlier formulations.
        kept AS MATERIALIZED (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   list_dot_product(a.ed, b.ed) / a.nrm / b.nrm AS sim_raw
            FROM norms a JOIN norms b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.ed, b.ed) / a.nrm / b.nrm >= {tau}
        )
        SELECT k.id_a, k.id_b, round(k.sim_raw, 6) AS sim
        FROM kept k
        WHERE EXISTS (
            SELECT 1 FROM codes a
            JOIN codes b ON a.band = b.band AND a.code = b.code
            WHERE a.vec_id = k.id_a AND b.vec_id = k.id_b
        )
    """


@register(
    "E-EMB-LSH",
    oracle=_emb_lsh_sql(_EMB_BANDS, _EMB_BAND_BITS, _COS_TAU),
    origin="LLM",
    doc="Bucketed embedding near-dup — the scale path for "
        "q_dedup_emb_cosine: sign-band candidates from the INTEGER-EXACT "
        f"md5-plane family ({_EMB_BAND_BITS}-bit x {_EMB_BANDS} bands, "
        "equi join, no cartesian — the E-EMB-LSH-HI machinery at this "
        "family's own τ=0.35 geometry; oracle-ized r11 with the same "
        "method) + the IDENTICAL double-precision fold rescore as "
        "q_dedup_emb_cosine, so the emitted rows are a strict subset of "
        "that truth table (precision 1.0 by construction; recall >= 0.9 "
        "asserted in tests/test_llm.py — measured 0.957 at 0.533 "
        "candidate fraction). CAVEAT (VERDICT r6): τ=0.35 is 69.5° — "
        "sign-LSH cannot band that tightly (candidate fraction 0.53 on "
        "i.i.d. geometry, measured at 4x stress), and neither can IVF "
        "coarse partitioning (measured recall 0.29-0.83 at fraction "
        "0.03-0.46 on this fixture — the τ=0.35 pairs here are "
        "near-random geometry, not cluster structure). This key is the "
        "fixture-bound exact-parity twin of q_dedup_emb_cosine; the "
        "realistic-τ scale path is E-EMB-LSH-HI (fraction ~5e-4).",
)
def e_emb_lsh(spark, sf_dir):
    e = widen(table(spark, sf_dir, "embeddings"))
    cand = _int_lsh_pairs(e, _EMB_BANDS, _EMB_BAND_BITS)
    return _cosine_rescore(cand, e, _COS_TAU)


# Realistic near-dup operating point: embedding near-dups in production
# corpora sit at cos >= ~0.9 (a paraphrase/re-crawl, not a random
# neighbor). At θ = acos(0.9) = 25.8° the per-hyperplane agreement is
# 1 - θ/π = 0.857, so 16-bit bands are affordable: a τ-pair survives a
# band with p = 0.857^16 ≈ 0.084 → 32 bands give ≈ 1-(1-0.084)^32 ≈ 0.94
# recall at the threshold (higher above it), while a random pair collides
# with p = 32 x 0.5^16 ≈ 4.9e-4 — a ~1000x candidate cut vs the τ=0.35
# family. The fixture has no pairs above 0.52, so the query PLANTS
# deterministic near-dups (every 5th vector, coordinate-wise
# (1 + 0.3·u) scaling with an integer-mixed u ∈ [-1, 1]) with negated
# ids — ground truth by construction, no quadratic oracle.
#
# r10 (VERDICT r9 #3): the whole path is now INTEGER-EXACT so DuckDB can
# replay it — the perturbation mixes integers instead of sin(); the
# hyperplanes are md5-derived integer vectors in [-1000, 1000] (the
# E-MULTIMODAL hex-char trick) instead of seeded Mersenne-Twister
# gaussians; embeddings fixed-point to 1e-6 BEFORE projection, so every
# sign decision is the sign of an exact int64 sum (order-independent —
# no last-ulp band flips possible in either engine); and the rescore
# cosine divides exact integer dot/norms (all < 2^53). Hash-checked.
_EMB_HI_TAU = 0.9
_EMB_HI_BANDS = 32
_EMB_HI_BITS = 16
_EMB_HI_AMP = 0.3
_EMB_HI_EVERY = 5
# (_EMB_HI_MOD, the shared plane/plant integer mix range, is defined next
# to _planes_sql above — both LSH families draw from the same family.)


def _emb_hi_corpus(spark, sf_dir):
    """Fixture embeddings (as double arrays) + planted near-dups.

    Clone ids are -(vec_id+1): negation can never collide with a real id
    at any SF (the q_snapshot_diff lesson); +1 keeps vec_id=0 distinct.
    The perturbation factor is 1 + 0.3·(m-1000)/1000 with
    m = (vec_id·31 + i·17) mod 2001 — pure int64 mixing + one exact
    division, identical in both engines (sin() was the one oracle
    blocker, ADVICE/VERDICT r9)."""
    e = widen(table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    half = (_EMB_HI_MOD - 1) // 2
    pert = F.transform(
        "embedding",
        lambda x, i: x
        * (
            F.lit(1.0)
            + F.lit(_EMB_HI_AMP)
            * (
                ((F.col("vec_id") * 31 + i * 17) % _EMB_HI_MOD - half)
                .cast("double")
                / float(half)
            )
        ),
    )
    # Two-step select on purpose: PySpark 4 resolves LATERAL column
    # aliases in DataFrame.select, so putting the negated alias before
    # `pert` makes the lambda's F.col("vec_id") silently capture the NEW
    # id (probed; found by the r10 hash gate). Perturb against the source
    # id first, then negate.
    dups = (
        e.filter(F.col("vec_id") % _EMB_HI_EVERY == 0)
        .select("vec_id", pert.alias("embedding"))
        .select((-(F.col("vec_id") + 1)).alias("vec_id"), "embedding")
    )
    return e.unionByName(dups)


_INT_PLANE_CACHE: dict = {}


def _int_planes(dim: int, bands: int, band_bits: int):
    """md5-derived integer hyperplanes, identical in any engine.

    p[d, k] = (ord(h[0])·4096 + ord(h[1])·256 + ord(h[2])·16 + ord(h[3]))
    mod 2001 - 1000 with h = md5(f"{d}:{k}") hex chars — the same
    string/ascii arithmetic DuckDB computes with md5()/ascii()/substring()
    (the E-MULTIMODAL pattern). Uniform-ish in [-1000, 1000]: a symmetric
    family is all sign-LSH needs. Cached per (dim, planes) — 32k md5
    calls once per process, never per batch."""
    import hashlib

    import numpy as np

    key = (dim, bands * band_bits)
    got = _INT_PLANE_CACHE.get(key)
    if got is None:
        n = bands * band_bits
        p = np.empty((dim, n), dtype=np.int64)
        for d in range(dim):
            for k in range(n):
                h = hashlib.md5(f"{d}:{k}".encode()).hexdigest()
                p[d, k] = (
                    ord(h[0]) * 4096
                    + ord(h[1]) * 256
                    + ord(h[2]) * 16
                    + ord(h[3])
                ) % _EMB_HI_MOD - (_EMB_HI_MOD - 1) // 2
        _INT_PLANE_CACHE[key] = got = p
    return got


def _int_band_code_udf(bands: int, band_bits: int):
    """Integer-exact sign-LSH band codes: embedding -> array<int>.

    Embeddings fixed-point to 1e-6 (floor(x·1e6 + 0.5) — floor of the
    same double both engines compute, so no rounding-mode hazard), then
    one int64 matmul against the md5 plane family: every projection is
    an exact integer, every sign deterministic."""

    @F.pandas_udf("array<int>")
    def band_codes(batch: pd.Series) -> pd.Series:
        import numpy as np

        if len(batch) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack([np.asarray(v, dtype="float64") for v in batch])
        ve6 = np.floor(mat * 1_000_000 + 0.5).astype(np.int64)
        planes = _int_planes(mat.shape[1], bands, band_bits)
        bits = (ve6 @ planes) > 0
        weights = 1 << np.arange(band_bits - 1, -1, -1)
        codes = bits.reshape(len(mat), bands, band_bits) @ weights
        return pd.Series([row.astype("int32").tolist() for row in codes])

    return band_codes


def _int_lsh_pairs(vecs, bands: int, band_bits: int):
    """Candidate (id_a, id_b) pairs from the integer-exact band family —
    same banding algebra as :func:`_sign_lsh_pairs`, deterministic codes.

    r16 (guide §4/§2.4): the band-code table is materialized ONCE — the
    self-join's two legs each re-ran the Arrow banding UDF over the full
    vector scan (2 ArrowEvalPython nodes, no exchange reuse; measured
    1.39 → 1.05 s on the candidate stage at sf0.1). Production LSH
    builds its signature index exactly once per snapshot; DISK_ONLY for
    the same execution-memory reason as the shingle checkpoints."""
    band_codes = _int_band_code_udf(bands, band_bits)
    banded = vecs.select(
        "vec_id", F.posexplode(band_codes("embedding")).alias("band", "code")
    ).localCheckpoint(eager=True, storageLevel=_SH_CKPT_LEVEL)
    a = banded.select(F.col("vec_id").alias("id_a"), "band", "code")
    b = banded.select(F.col("vec_id").alias("id_b"), "band", "code")
    return (
        a.join(b, ["band", "code"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _cosine_rescore_e6(cand, vecs, tau: float):
    """Exact rescore over 1e-6 fixed-point vectors: dot and norms² are
    exact int64 (≤ ~4e13 for unit-ish 64-dim embeddings — far under
    2^53, so the final doubles are identical in any engine); sim is two
    correctly-rounded sqrt/divide ops. The emitted value is the cosine
    of the QUANTIZED vectors — within 1e-5 of the float cosine, and
    cross-engine hashable where a float-sum cosine would carry a
    last-ulp summation-order hazard."""
    fp = lambda c: F.transform(  # noqa: E731
        c, lambda x: F.floor(x.cast("double") * 1_000_000 + 0.5)
    )
    dot = F.aggregate(
        F.zip_with(F.col("ea6"), F.col("eb6"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    norm2 = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    va = vecs.select(
        F.col("vec_id").alias("id_a"),
        fp(F.col("embedding")).alias("ea6"),
    ).select("id_a", "ea6", norm2(F.col("ea6")).alias("n2a"))
    vb = vecs.select(
        F.col("vec_id").alias("id_b"),
        fp(F.col("embedding")).alias("eb6"),
    ).select("id_b", "eb6", norm2(F.col("eb6")).alias("n2b"))
    sim = (
        dot.cast("double")
        / F.sqrt(F.col("n2a").cast("double"))
        / F.sqrt(F.col("n2b").cast("double"))
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("sim_raw", sim)
        .filter(F.col("sim_raw") >= tau)
        .select("id_a", "id_b", F.round("sim_raw", 6).alias("sim"))
    )


_EMB_HI_PLANES_SQL = _planes_sql(_EMB_HI_BANDS * _EMB_HI_BITS)


@register(
    "E-EMB-LSH-HI",
    oracle=f"""
        WITH g64 AS (SELECT unnest(generate_series(0, 63)) AS d),
        base AS (
            SELECT vec_id, g64.d,
                   CAST(embedding[g64.d + 1] AS DOUBLE) AS v
            FROM embeddings, g64 WHERE g64.d < len(embedding)
        ),
        pl AS (
            -- Two layers on purpose: DuckDB resolves LATERAL column
            -- aliases, so computing the factor next to the negated
            -- vec_id alias would silently mix with the NEW id, not the
            -- source id (bug found by the r10 hash gate itself).
            SELECT -(vec_id + 1) AS vec_id, d, v * f AS v
            FROM (
                SELECT vec_id, d, v,
                       1 + {_EMB_HI_AMP}
                         * (((vec_id * 31 + d * 17) % {_EMB_HI_MOD}
                             - {(_EMB_HI_MOD - 1) // 2})
                            / {(_EMB_HI_MOD - 1) // 2}.0) AS f
                FROM base WHERE vec_id % {_EMB_HI_EVERY} = 0
            )
        ),
        corpus AS (
            SELECT vec_id, d,
                   CAST(floor(v * 1000000 + 0.5) AS BIGINT) AS ve6
            FROM (SELECT * FROM base UNION ALL SELECT * FROM pl)
        ),{_EMB_HI_PLANES_SQL},
        proj AS (
            SELECT c.vec_id, p.k, sum(c.ve6 * p.p) AS s
            FROM corpus c JOIN planes p USING (d)
            GROUP BY 1, 2
        ),
        codes AS (
            SELECT vec_id, k // {_EMB_HI_BITS} AS band,
                   CAST(sum(CASE WHEN s > 0 THEN
                        1 << ({_EMB_HI_BITS - 1} - (k % {_EMB_HI_BITS}))
                        ELSE 0 END) AS INTEGER) AS code
            FROM proj GROUP BY 1, 2
        ),
        cand AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM codes a JOIN codes b
                 ON a.band = b.band AND a.code = b.code
            WHERE a.vec_id < b.vec_id
            GROUP BY 1, 2
        ),
        n2 AS (SELECT vec_id, sum(ve6 * ve6) AS n2 FROM corpus GROUP BY 1),
        dots AS (
            SELECT c.id_a, c.id_b, sum(ca.ve6 * cb.ve6) AS dot
            FROM cand c
            JOIN corpus ca ON ca.vec_id = c.id_a
            JOIN corpus cb ON cb.vec_id = c.id_b AND cb.d = ca.d
            GROUP BY 1, 2
        )
        SELECT dt.id_a, dt.id_b,
               round(CAST(dt.dot AS DOUBLE)
                     / sqrt(CAST(na.n2 AS DOUBLE))
                     / sqrt(CAST(nb.n2 AS DOUBLE)), 6) AS sim
        FROM dots dt
        JOIN n2 na ON na.vec_id = dt.id_a
        JOIN n2 nb ON nb.vec_id = dt.id_b
        WHERE CAST(dt.dot AS DOUBLE)
              / sqrt(CAST(na.n2 AS DOUBLE))
              / sqrt(CAST(nb.n2 AS DOUBLE)) >= {_EMB_HI_TAU}
    """,
    origin="LLM",
    doc="Embedding near-dup at the REALISTIC operating point — the "
        f"100 TB scale path (VERDICT r6 #3): τ={_EMB_HI_TAU} with a "
        f"{_EMB_HI_BITS}-bit x {_EMB_HI_BANDS}-band sign-LSH family "
        "(equi join on (band, code), no cartesian) + exact rescore. "
        "Tight τ is what makes banding work: random-pair candidate "
        "fraction ≈ 32·2^-16 ≈ 5e-4 (vs 0.53 for the τ=0.35 family — "
        "sign-LSH cannot band 69.5°), so the rescore is ~n·5e-4·n/2 — "
        "linear-ish in corpus at realistic dup rates. The fixture's max "
        "pairwise cos is 0.51, so the query plants deterministic "
        "near-dups (every 5th vector, integer-mixed (1+0.3u) coordinate "
        "scaling, negated ids → cos ≈ 0.978). ORACLE-CHECKED since r10 "
        "(VERDICT r9 #3): the planes are md5-derived integers, "
        "embeddings fixed-point to 1e-6 before projection, so every "
        "band code is the sign pattern of exact int64 sums and the "
        "rescore cosine divides exact integers (< 2^53) — DuckDB "
        "replays plant → planes → codes → banded join → rescore "
        "bit-for-bit, including WHICH planted pairs the banding "
        "recalls. Recall ≥ 0.9 and candidate fraction < 0.01 asserted "
        "at stress scale in tests/test_stress_scale.py.",
)
def e_emb_lsh_hi(spark, sf_dir):
    # Eager localCheckpoint (the q_graph_pagerank pattern): the planted
    # corpus feeds THREE plan branches (band side + both rescore sides),
    # and without pinning, the union + perturbation transform re-executes
    # per branch (measured 2.34s -> 1.88s at sf0.1). The materialized
    # footprint is |corpus| rows — the same data every branch must read
    # anyway.
    corpus = _emb_hi_corpus(spark, sf_dir).localCheckpoint(eager=True)
    cand = _int_lsh_pairs(corpus, _EMB_HI_BANDS, _EMB_HI_BITS)
    return _cosine_rescore_e6(cand, corpus, _EMB_HI_TAU)


_CC_MAX_ROUNDS = 20


def _ensure_checkpoint_dir(spark):
    """Reliable checkpoints need a checkpoint dir; set one (a scratch dir)
    only if the session has none, so a caller-configured dir wins."""
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(scratch_dir("checkpoint"))


def _min_label_propagate(spark, pairs, max_rounds=_CC_MAX_ROUNDS):
    """Iterative min-label propagation over an undirected pair graph.

    ``pairs`` is a DataFrame of (id_a, id_b). Returns ``(labels, rounds)``
    where labels maps every id appearing in pairs to its component root
    (the component's min id) and ``rounds`` counts propagation rounds
    actually run. Convergence contract (stress-asserted in
    tests/test_stress_scale.py): the min label travels one hop per round,
    so rounds <= component diameter + 1 (the +1 is the zero-changed-rows
    fixpoint confirmation). Raises past ``max_rounds`` — near-dup cluster
    graphs are shallow; a deeper graph needs the alternating
    large-star/small-star variant (O(log n) rounds adversarially).
    """
    _ensure_checkpoint_dir(spark)
    edges = pairs.union(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).persist()  # reused every round; lineage kept → executor-loss safe
    labels = (
        edges.select(F.col("id_a").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("root"))
        .checkpoint()
    )
    rounds = 0
    for _ in range(max_rounds):
        nbr = (
            edges.join(labels, edges.id_a == labels.id)
            .groupBy(F.col("id_b").alias("nid"))
            .agg(F.min("root").alias("nbr_root"))
        )
        upd = (
            labels.join(nbr, labels.id == nbr.nid, "left")
            .select(
                "id",
                F.col("root").alias("old_root"),
                F.least(F.col("root"), F.coalesce("nbr_root", "root")).alias("root"),
            )
            .checkpoint()  # truncate lineage; durable on a real cluster
        )
        # Roots only ever decrease ⇒ zero strictly-decreased rows ⇔ fixpoint.
        changed = upd.filter(F.col("root") < F.col("old_root")).count()
        labels = upd.select("id", "root")
        rounds += 1
        if changed == 0:
            break
    else:
        raise RuntimeError(f"label propagation not converged in {max_rounds}")
    edges.unpersist()
    return labels, rounds


def _star_contract(spark, pairs, max_rounds=_CC_MAX_ROUNDS):
    """Alternating large-star/small-star connected components.

    The published MapReduce CC algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): each round applies
    Large-Star (every node points its LARGER neighbors at its minimum
    neighborhood member) then Small-Star (every node folds its smaller
    neighbors, and itself, onto that minimum), which contracts any
    component onto its minimum id in O(log n) rounds REGARDLESS of
    diameter — the variant :func:`_min_label_propagate`'s docstring
    defers to for adversarially deep graphs (label propagation pays one
    round per hop; a 1000-node chain needs 1000 rounds there and ~15
    here, pinned in tests/test_llm.py). Returns ``(labels, rounds)``
    with the same (id, root) contract as the propagate variant. Each
    phase is one groupBy + one re-join — the same per-round shuffle
    class, just fewer rounds. Reliable checkpoints per round (the
    q_dedup_cluster fault story)."""
    _ensure_checkpoint_dir(spark)
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .checkpoint()
    )
    # Members derive from the CHECKPOINTED edges, not from `pairs`: a
    # second action on the lazily-derived pair list would re-execute the
    # entire upstream candidate pipeline (SCALING.json r15 measured the
    # double build as the bulk of cc_star's 1.52 growth exponent at SF3
    # — the pair join is the super-linear part; reading the checkpoint
    # back is linear IO). Equivalent set: dedup pairs carry id_a != id_b
    # by construction, so no member exists only on a self-loop row.
    members = (
        edges.select(F.col("u").alias("id"))
        .union(edges.select(F.col("v").alias("id")))
        .distinct()
        .checkpoint()
    )

    def large_star(e):
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e):
        o = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = o.groupBy("u").agg(F.min("v").alias("m"))
        folded = (
            o.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m.select("u", F.col("m").alias("v")))
        )
        return folded.filter(F.col("u") != F.col("v")).distinct()

    rounds = 0
    for _ in range(max_rounds):
        nxt = small_star(large_star(edges)).checkpoint()
        rounds += 1
        # Set equality: counts match AND no edge is new. subtract() is
        # distinct-based and both sides are distinct by construction.
        if nxt.count() == edges.count() and nxt.subtract(edges).isEmpty():
            edges = nxt
            break
        edges = nxt
    else:
        raise RuntimeError(f"star contraction not converged in {max_rounds}")
    # Converged edge set is a star forest (child -> component min).
    labels = members.join(
        edges.select(F.col("u").alias("id"), F.col("v").alias("root")),
        "id",
        "left",
    ).select("id", F.coalesce("root", "id").alias("root"))
    return labels, rounds


@register(
    "q_dedup_cc_star",
    oracle=f"""
        WITH RECURSIVE pairs AS MATERIALIZED ({_NGRAM_PAIRS_SQL}),
        edges AS MATERIALIZED (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL
            SELECT id_b, id_a FROM pairs
        ),
        reach(id, r) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
        )
        SELECT d.doc_id, COALESCE(m.root, d.doc_id) AS root
        FROM documents d
        LEFT JOIN (SELECT id, min(r) AS root FROM reach GROUP BY id) m
          ON m.id = d.doc_id
    """,
    origin="LLM",
    doc="Connected components via alternating large-star/small-star "
        "contraction (Kiveris et al., SoCC'14) over the same "
        "shingle-Jaccard pair graph as q_dedup_cluster — and the SAME "
        "answer (identical oracle; cross-implementation equality also "
        "pinned in tests/test_llm.py). The difference is the round "
        "bound: label propagation pays one round per hop of component "
        "diameter, star contraction pays O(log n) regardless — this is "
        "the 100 TB answer when the dup graph contains long chains "
        "(crawl rings, boilerplate gradients), where the propagate "
        "variant's round count, not its shuffle volume, becomes the "
        "bottleneck (its own docstring defers here). Per round: two "
        "groupBy-min + re-join phases, reliable checkpoints, exact "
        "set-equality convergence witness (count + subtract-empty — "
        "no hash truce).",
)
def q_dedup_cc_star(spark, sf_dir):
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
    labels, _ = _star_contract(spark, pairs)
    d = table(spark, sf_dir, "documents")
    return d.join(labels, d.doc_id == labels.id, "left").select(
        "doc_id", F.coalesce("root", "doc_id").alias("root")
    )


@register(
    "q_dedup_cluster",
    oracle=f"""
        WITH RECURSIVE pairs AS MATERIALIZED ({_NGRAM_PAIRS_SQL}),
        edges AS MATERIALIZED (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL
            SELECT id_b, id_a FROM pairs
        ),
        reach(id, r) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
        )
        SELECT d.doc_id, COALESCE(m.root, d.doc_id) AS root
        FROM documents d
        LEFT JOIN (SELECT id, min(r) AS root FROM reach GROUP BY id) m
          ON m.id = d.doc_id
    """,
    origin="LLM",
    doc="Duplicate-cluster resolution — the step after pair generation in "
        "a dedup pipeline: connected components over the shingle-Jaccard "
        "pair graph, every document labeled with its cluster root "
        "(= min doc_id in the component, the canonical keeper). Spark side "
        "is iterative min-label propagation: each round one equi-join "
        "shuffle + map-side-combined min; rounds bounded by component "
        "diameter (near-dup clusters are shallow — converges in 2-3 here; "
        "an alternating large-star/small-star variant bounds rounds at "
        "O(log n) for adversarial graphs). The driver loop is control "
        "flow only — per-round data never leaves the cluster. Fault "
        "story (ADVICE r3): edges persist WITH lineage (a lost executor "
        "recomputes its blocks), per-round labels use RELIABLE "
        "checkpoints (checkpoint dir = durable storage on a cluster) — "
        "localCheckpoint would make prior rounds unrecomputable on any "
        "executor loss. Convergence witness is a changed-row count, not "
        "sum(root), so no ANSI int64-overflow exposure on wide id spaces.",
)
def q_dedup_cluster(spark, sf_dir):
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
    labels, _ = _min_label_propagate(spark, pairs)
    d = table(spark, sf_dir, "documents")
    return d.join(labels, d.doc_id == labels.id, "left").select(
        "doc_id", F.coalesce("root", "doc_id").alias("root")
    )


_SEG_TOKENS = 16  # tokens per non-overlapping segment


@register(
    "q_dedup_segment",
    oracle=f"""
        WITH s AS (
            SELECT doc_id,
                   md5(array_to_string(list_slice(
                       string_split(text, ' '),
                       (i - 1) * {_SEG_TOKENS} + 1, i * {_SEG_TOKENS}), ' '))
                       AS h
            FROM documents,
                 LATERAL (SELECT unnest(generate_series(1,
                     CAST(ceil(len(string_split(text, ' '))
                               / {_SEG_TOKENS}.0) AS BIGINT))) AS i) u
        ),
        g AS (SELECT h, count(DISTINCT doc_id) AS nd FROM s GROUP BY h)
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_segments,
               CAST(count(*) FILTER (g.nd >= 2) AS BIGINT)
                   AS n_shared_segments
        FROM s JOIN g ON s.h = g.h
        GROUP BY s.doc_id
    """,
    origin="LLM",
    doc="Sub-document (segment-level) exact dedup — the granularity real "
        "pipelines scrub boilerplate at, between whole-doc md5 dedup and "
        "shingle near-dup: cut each document into non-overlapping "
        f"{_SEG_TOKENS}-token segments, hash each, and per document count "
        "segments whose hash also occurs in at least one OTHER document. "
        "Downstream, shared segments are the removal candidates. One "
        "hash-partitioned groupBy on the segment hash (shuffle ∝ corpus "
        "token count / segment size) + a broadcast-size join back — no "
        "pairwise comparison anywhere, so the plan is the same at 100 TB.",
)
def q_dedup_segment(spark, sf_dir):
    d = widen(table(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    nseg = F.ceil(F.size(toks) / F.lit(float(_SEG_TOKENS)))
    segs = d.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(1), nseg)).alias("i"),
    ).select(
        "doc_id",
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    "toks",
                    (F.col("i") - 1) * _SEG_TOKENS + 1,
                    F.lit(_SEG_TOKENS),
                ),
            )
        ).alias("h"),
    )
    # nd >= 2 per instance == "the hash partition spans >= 2 distinct
    # docs" == min(doc_id) != max(doc_id) over the hash window: one pass,
    # no countDistinct aggregate, no join back (the q_dedup_scrub r15
    # rewrite — guide §2.3/§3; the join recomputed the segment subtree on
    # both sides and sorted both on h at volume).
    from pyspark.sql import Window

    wh = Window.partitionBy("h")
    marked = segs.select(
        "doc_id",
        (F.min("doc_id").over(wh) != F.max("doc_id").over(wh)).alias(
            "shared"
        ),
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("shared").cast("long")).alias("n_shared_segments"),
    )


# ---------------------------------------------------------------------------
# Portable MinHash signature (oracle-checked twin of the LSH sig build).
# ---------------------------------------------------------------------------

_SIG_SEEDS = 8  # seeded min-hashes per document

# Shingle CTE shared shape with _NGRAM_PAIRS_SQL (same 3-word shingles).
_SIG_SHINGLE_CTE = """
        WITH sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text,' ')) - 2),
                       i -> string_split(text,' ')[i] || ' ' ||
                            string_split(text,' ')[i+1] || ' ' ||
                            string_split(text,' ')[i+2]))) AS s
            FROM documents
        )
"""


@register(
    "q_minhash_sig",
    oracle=_SIG_SHINGLE_CTE + f"""
        SELECT doc_id,
               {", ".join(f"min(md5('{i}:' || s)) AS h{i}" for i in range(_SIG_SEEDS))}
        FROM sh
        GROUP BY doc_id
    """,
    origin="LLM",
    doc="MinHash signature build, oracle-checked: per document the min of "
        f"a seeded md5 family ({_SIG_SEEDS} seeds) over its distinct 3-word "
        "shingles. The seeded-md5 twin of E-MINHASH-LSH's signature stage "
        "(same shingle set, same min-per-seed shape; since r12 BOTH are "
        "fully oracle-checked — this key pins the simpler full-rehash "
        "family, the engine key the Carter-Wegman one), so the production "
        "LSH path's hardest step (signature aggregation with map-side "
        "partial mins, one shuffle proportional to |docs|) is "
        "hash-verified in two independent formulations. "
        "Docs shorter than the shingle width have no signature row in "
        "either engine (empty shingle set), mirroring the LSH behavior.",
)
def q_minhash_sig(spark, sf_dir):
    d = widen(table(spark, sf_dir, "documents"))
    sh = d.select("doc_id", F.explode(shingles("text")).alias("s"))
    # JVM-parsed agg expressions (guide §5): same tree, ~10x fewer py4j
    # round-trips than the Column-API loop.
    return sh.groupBy("doc_id").agg(
        *[
            F.expr(f"min(md5(concat('{i}:', s))) AS h{i}")
            for i in range(_SIG_SEEDS)
        ]
    )


# Integer-exact containment threshold: C = i/|A| >= 0.9  ⇔  10*i >= 9*|A|
_CT_NUM, _CT_DEN = 9, 10


@register(
    "q_dedup_containment",
    oracle=_SIG_SHINGLE_CTE + f"""
        , sizes AS (
            SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(i / CAST(sa.n AS DOUBLE), 6) AS containment
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        WHERE {_CT_DEN} * i >= {_CT_NUM} * sa.n
    """,
    origin="LLM",
    doc="Directional shingle containment >= 0.9: document A is (near-)"
        "contained in B when 90% of A's 3-word shingles also occur in B — "
        "the one-sided Jaccard that catches subset/boilerplate relations "
        "symmetric Jaccard misses (a short doc embedded in a long one "
        "scores low on Jaccard but 1.0 on containment). Candidates via "
        "the lossless rarity-prefix block (r15, SCALING.json: the "
        "every-shingle block measured exp_sf1_sf3 = 2.18 — Σ df² on the "
        "frequency head; see _rarity_ranked): C(A,B) ≥ 0.9 forces B to "
        "share one of A's ⌊|A|/10⌋+1 rarest shingles, so the block join "
        "is prefix(A) × postings(B) instead of postings × postings; a "
        "10·nb ≥ 9·na length filter prunes impossible pairs before the "
        "exact pair-bounded intersection recount. Identical output to "
        "the all-shingle formulation (the oracle keeps it) — the prefix "
        "only drops pairs that cannot reach the threshold; integer-"
        "exact threshold at the boundary.",
)
def q_dedup_containment(spark, sf_dir):
    d = widen(table(spark, sf_dir, "documents"))
    sh = d.select("doc_id", F.explode(shingles("text")).alias("s"))
    if row_count(sf_dir, "documents") < _PAIR_BLOCK_MIN_DOCS:
        # Small corpus: posting block (cutover at _PAIR_BLOCK_MIN_DOCS).
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        inter = _posting_intersections(sh, "id_a", "id_b", symmetric=False)
    else:
        # One materialization each for the shingle explode and the
        # rarity ranking (guide §2.4/§5.4 — see q_dedup_ngram_jaccard):
        # lazily the containment shape re-ran the corpus explode 13
        # times (plans/r16/q_dedup_containment_sf1_before.txt).
        sh = sh.localCheckpoint(eager=True, storageLevel=_SH_CKPT_LEVEL)
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        ranked = _rarity_ranked(sh).localCheckpoint(
            eager=True, storageLevel=_SH_CKPT_LEVEL
        )
        # k=2 prefix lemma, directional: i ≥ ⌈0.9·na⌉ ≥ 2 ⟹ B contains
        # TWO of A's first ⌊na/10⌋+2 rarity-ordered shingles
        # (r ≤ ⌊na/10⌋+2 ⇔ 10·r ≤ na+20) — so block A's prefix-PAIRS
        # against B's pairs. Containment bounds only A's side, so B's
        # pair set is its whole shingle set, pre-restricted (semi join)
        # to shingles that occur in SOME doc's prefix — both guaranteed
        # common elements are A-prefix members, so the restriction is
        # lossless and cuts B's quadratic per-doc combo count to the
        # prefix-dictionary hit subset.
        pref_a = ranked.filter(10 * F.col("r") <= F.col("n") + 20)
        pdict = pref_a.select("s").distinct()
        pk_a = _pair_combos(pref_a, "id_a")
        pk_b = _pair_combos(sh.join(pdict, "s"), "id_b")
        cand2 = (
            pk_a.join(pk_b, "pk")
            .filter(F.col("id_a") != F.col("id_b"))
            .select("id_a", "id_b")
        )
        # k=1 route for docs the pair block cannot cover: na = 1 (α = 1
        # — a true pair shares only one element). Their single shingle
        # IS the whole prefix, blocked against the full posting list.
        cand1 = (
            ranked.filter(F.col("n") == 1)
            .select(F.col("doc_id").alias("id_a"), "s")
            .join(sh.select(F.col("doc_id").alias("id_b"), "s"), "s")
            .filter(F.col("id_a") != F.col("id_b"))
            .select("id_a", "id_b")
        )
        cand = cand2.unionByName(cand1).distinct()
        # Length filter: i ≤ nb and 10·i ≥ 9·na ⟹ 10·nb ≥ 9·na.
        sa = sizes.select(
            F.col("doc_id").alias("id_a"), F.col("n").alias("na")
        )
        sb = sizes.select(
            F.col("doc_id").alias("id_b"), F.col("n").alias("nb")
        )
        cand = (
            cand.join(sa, "id_a")
            .join(sb, "id_b")
            .filter(10 * F.col("nb") >= 9 * F.col("na"))
            .select("id_a", "id_b")
        )
        inter = _prefix_pairs_exact(
            sh, cand, n_docs=row_count(sf_dir, "documents")
        )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    # No broadcast hint on the corpus-sized per-doc size table (see
    # q_dedup_near_jaccard) — AQE picks broadcast at test SFs only.
    return (
        inter.join(sa, "id_a")
        .filter(_CT_DEN * F.col("i") >= _CT_NUM * F.col("na"))
        .select(
            "id_a", "id_b",
            F.round(F.col("i") / F.col("na").cast("double"), 6)
            .alias("containment"),
        )
    )


# --- q_minhash_est: banded candidate-gen + signature Jaccard estimate ------

_EST_BANDS = 2  # 2 bands x 4 rows over the 8-seed signature
_EST_ROWS = _SIG_SEEDS // _EST_BANDS

_EST_SIG_COLS = ", ".join(
    f"min(md5('{i}:' || s)) AS h{i}" for i in range(_SIG_SEEDS)
)
_EST_BAND_SQL = " UNION ALL ".join(
    "SELECT doc_id, {bi} AS bi, md5({cat}) AS bh FROM sig".format(
        bi=bi,
        cat=" || ".join(f"h{bi * _EST_ROWS + r}" for r in range(_EST_ROWS)),
    )
    for bi in range(_EST_BANDS)
)
_EST_MATCH_SQL = " + ".join(
    f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(_SIG_SEEDS)
)


@register(
    "q_minhash_est",
    oracle=_SIG_SHINGLE_CTE + f"""
        , sig AS (SELECT doc_id, {_EST_SIG_COLS} FROM sh GROUP BY doc_id)
        , bands AS ({_EST_BAND_SQL})
        , cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a
            JOIN bands b ON a.bi = b.bi AND a.bh = b.bh
                 AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               CAST({_EST_MATCH_SQL} AS BIGINT) AS n_match,
               round(({_EST_MATCH_SQL}) / {_SIG_SEEDS}.0, 6) AS est_jaccard
        FROM cand
        JOIN sig sa ON sa.doc_id = id_a
        JOIN sig sb ON sb.doc_id = id_b
    """,
    origin="LLM",
    doc="The full MinHash-LSH pipeline under a strict cross-engine hash "
        "verdict (the portable md5 twin of E-MINHASH-LSH end-to-end, not "
        "just its signature stage): 8-seed signatures, 2-band x 4-row "
        "banding, candidate pairs via the banded EQUI join (shuffle "
        "proportional to |docs| x bands — the plan that replaces the "
        "quadratic all-pairs comparison at 100 TB), then the classic "
        "matching-minima Jaccard estimate n_match/8 per candidate pair. "
        "Estimation quality vs exact Jaccard is covered by the "
        "E-MINHASH-LSH recall test; THIS key pins the machinery exactly.",
)
def q_minhash_est(spark, sf_dir):
    d = widen(table(spark, sf_dir, "documents"))
    sh = d.select("doc_id", F.explode(shingles("text")).alias("s"))
    # Construction via JVM-parsed SQL strings / selectExpr (guide §5
    # driver overhead): the Column-API loops cost ~2,000 py4j round-trips
    # per invocation building the identical tree. Note the D suffix on
    # the divisor — a bare 8.0 parses as DECIMAL in Spark SQL, which
    # would change the est_jaccard type (the Column API's float literal
    # is DOUBLE).
    sig = sh.groupBy("doc_id").agg(
        *[
            F.expr(f"min(md5(concat('{i}:', s))) AS h{i}")
            for i in range(_SIG_SEEDS)
        ]
    )
    # Carry the signature columns THROUGH the band join instead of joining
    # back to sig afterwards: sig is an unmaterialized plan, and each extra
    # consumer re-runs the whole shingle+groupBy pipeline (measured: the
    # join-back formulation built sig 4x and ran 3.6s at sf0.1; this one
    # builds it once per join side). At 100 TB the signature table would be
    # materialized once and reused — within one query, column-carrying is
    # the equivalent.
    band_arr = "array(" + ", ".join(
        "md5(concat("
        + ", ".join(f"h{bi * _EST_ROWS + r}" for r in range(_EST_ROWS))
        + "))"
        for bi in range(_EST_BANDS)
    ) + ")"
    banded = sig.select(
        "doc_id",
        *[f"h{i}" for i in range(_SIG_SEEDS)],
        F.posexplode(F.expr(band_arr)).alias("bi", "bh"),
    )
    a = banded.selectExpr(
        "doc_id AS id_a", "bi", "bh",
        *[f"h{i} AS a{i}" for i in range(_SIG_SEEDS)],
    )
    b = banded.selectExpr(
        "doc_id AS id_b", "bi AS bi2", "bh AS bh2",
        *[f"h{i} AS b{i}" for i in range(_SIG_SEEDS)],
    )
    n_match_sql = " + ".join(
        f"(CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END)"
        for i in range(_SIG_SEEDS)
    )
    return (
        a.join(b, (a["bi"] == b["bi2"]) & (a["bh"] == b["bh2"])
               & (a["id_a"] < b["id_b"]))
        .selectExpr(
            "id_a", "id_b",
            f"CAST({n_match_sql} AS BIGINT) AS n_match",
            f"round(({n_match_sql}) / {float(_SIG_SEEDS)}D, 6) AS est_jaccard",
        )
        .distinct()
    )


# --- q_dedup_lsh_buckets: band-bucket load audit ---------------------------


@register(
    "q_dedup_lsh_buckets",
    oracle=_SIG_SHINGLE_CTE + f"""
        , sig AS (SELECT doc_id, {_EST_SIG_COLS} FROM sh GROUP BY doc_id)
        , bands AS ({_EST_BAND_SQL})
        , b AS (
            SELECT bi, bh, CAST(count(*) AS BIGINT) AS s
            FROM bands GROUP BY bi, bh
        )
        SELECT bi AS band,
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(sum(s) AS BIGINT) AS n_docs,
               CAST(max(s) AS BIGINT) AS max_bucket,
               CAST(sum(CASE WHEN s >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_multi_buckets,
               CAST(sum(s * (s - 1) // 2) AS BIGINT) AS cand_pairs,
               round(max(s) * count(*) / CAST(sum(s) AS DOUBLE), 6) AS skew
        FROM b GROUP BY bi
    """,
    origin="LLM",
    doc="LSH band-bucket load audit — the operational pre-check run "
        "BEFORE the candidate join at scale: per band, bucket count, doc "
        "count, the largest bucket, multi-occupancy bucket count, the "
        "EXACT candidate-pair volume Σ s·(s−1)/2 the banded equi join "
        "will emit, and the max/mean occupancy skew. This is the number "
        "that decides whether a band family is safe to join (the r5 "
        "XOR-rotate family collapse — 10M+ candidates from correlated "
        "bands — would have shown up here as cand_pairs exploding before "
        "any join ran, and a boilerplate template family shows up as one "
        "hot bucket). All-integer arithmetic off the same portable md5 "
        "signature/banding machinery q_minhash_est pins, so the audit "
        "audits exactly the production pipeline. Scale shape: signature "
        "aggregation (map-side partial mins, the one |docs|-sized "
        "shuffle) → (band, bucket-hash) map-side-combined count → "
        "|bands|-row rollup; strictly cheaper than the candidate join it "
        "gates, and the output is bands-sized, not data-sized.",
)
def q_dedup_lsh_buckets(spark, sf_dir):
    d = widen(table(spark, sf_dir, "documents"))
    sh = d.select("doc_id", F.explode(shingles("text")).alias("s"))
    # JVM-parsed agg/band expressions (guide §5): same tree, ~10x fewer
    # py4j round-trips than the Column-API loops.
    sig = sh.groupBy("doc_id").agg(
        *[
            F.expr(f"min(md5(concat('{i}:', s))) AS h{i}")
            for i in range(_SIG_SEEDS)
        ]
    )
    band_arr = "array(" + ", ".join(
        "md5(concat("
        + ", ".join(f"h{bi * _EST_ROWS + r}" for r in range(_EST_ROWS))
        + "))"
        for bi in range(_EST_BANDS)
    ) + ")"
    buckets = (
        sig.select(
            "doc_id", F.posexplode(F.expr(band_arr)).alias("bi", "bh")
        )
        .groupBy("bi", "bh")
        .agg(F.count(F.lit(1)).alias("s"))
    )
    return buckets.groupBy(F.col("bi").alias("band")).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("s").cast("long").alias("n_docs"),
        F.max("s").cast("long").alias("max_bucket"),
        F.sum(F.when(F.col("s") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_multi_buckets"),
        F.expr("CAST(sum(s * (s - 1) DIV 2) AS BIGINT)").alias("cand_pairs"),
        F.round(
            (F.max("s") * F.count(F.lit(1))) / F.sum("s").cast("double"), 6
        ).alias("skew"),
    )


# --- q_dedup_keep_best: cluster survivor policy ----------------------------

# Composite quality key: longer doc wins, doc_id breaks exact ties toward
# the smaller id. n_chars <= ~1e4 and doc_id <= ~1e7 at any fixture sf, so
# n_chars*1e7 - doc_id is collision-free in int64.
_KEEP_KEY_SQL = "n_chars * 10000000 - doc_id"


@register(
    "q_dedup_keep_best",
    oracle=f"""
        WITH norm AS (
            SELECT doc_id, n_chars,
                   md5(array_to_string(list_sort(list_distinct(
                       string_split(text, ' '))), ' ')) AS h
            FROM documents
        )
        SELECT h AS cluster_hash,
               CAST(count(*) AS BIGINT) AS n_members,
               arg_max(doc_id, {_KEEP_KEY_SQL}) AS keeper_id,
               arg_max(n_chars, {_KEEP_KEY_SQL}) AS keeper_n_chars
        FROM norm
        GROUP BY h
        HAVING count(*) >= 2
    """,
    origin="LLM",
    doc="Duplicate-cluster survivor policy: cluster on the md5 of the "
        "sorted distinct-token set (word-order-insensitive near-exact "
        "dedup — catches shuffled/reordered copies plain md5 misses; the "
        "fixture has no byte-exact dups but 21 token-set clusters), then "
        "KEEP-BEST rather than keep-first: the longest member wins, "
        "smaller doc_id breaks exact ties, via one max_by on a "
        "collision-free composite key. This is "
        "the policy step real training pipelines run after candidate "
        "clustering (quality-ranked survivor selection); one hash "
        "groupBy, shuffle proportional to distinct normalized contents.",
)
def q_dedup_keep_best(spark, sf_dir):
    d = widen(table(spark, sf_dir, "documents"))
    norm = F.md5(
        F.concat_ws(
            " ", F.sort_array(F.array_distinct(F.split(F.col("text"), " ")))
        )
    )
    key = F.col("n_chars") * 10_000_000 - F.col("doc_id")
    return (
        d.select(F.col("doc_id"), F.col("n_chars"), norm.alias("h"))
        .groupBy(F.col("h").alias("cluster_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max_by("doc_id", key).alias("keeper_id"),
            F.max_by("n_chars", key).alias("keeper_n_chars"),
        )
        .filter(F.col("n_members") >= 2)
    )


# ---------------------------------------------------------------------------
# Exact duplicated-span detection (the suffix-array dedup semantics).
# ---------------------------------------------------------------------------

_SPAN_L = 8  # anchor width in tokens; reported spans are >= _SPAN_L long


@register(
    "q_dedup_spans",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ), pos AS (
            -- per-row unnest derives every anchor position from the doc's
            -- own length (no fixture-bound cap — ADVICE r5: a constant
            -- generate_series upper bound silently missed spans in docs
            -- longer than the cap)
            SELECT doc_id, ws,
                   CAST(unnest(generate_series(1, len(ws) - {_SPAN_L} + 1))
                        AS BIGINT) AS pos
            FROM toks WHERE len(ws) >= {_SPAN_L}
        ), sh AS (
            SELECT doc_id, pos,
                   array_to_string(ws[pos:pos+{_SPAN_L}-1], ' ') AS s
            FROM pos
        ), anchors AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.pos AS pos_a, b.pos AS pos_b
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        ), runs AS (
            SELECT doc_a, doc_b, pos_a, pos_b,
                   pos_a - row_number() OVER (
                       PARTITION BY doc_a, doc_b, pos_a - pos_b
                       ORDER BY pos_a) AS grp
            FROM anchors
        )
        SELECT doc_a, doc_b,
               min(pos_a) AS start_a, min(pos_b) AS start_b,
               CAST(count(*) + {_SPAN_L} - 1 AS BIGINT) AS span_tokens
        FROM runs
        GROUP BY doc_a, doc_b, pos_a - pos_b, grp
    """,
    origin="LLM",
    doc=f"Exact duplicated-span detection across documents (the semantics "
        "of suffix-array training-data dedup, realized distributively): "
        f"every shared token span of >= {_SPAN_L} tokens is found via "
        f"{_SPAN_L}-token shingle anchors equi-joined on shingle TEXT (no "
        "hash collisions), then maximal spans are recovered by merging "
        "anchor runs along (pos_a - pos_b) diagonals with one gaps-and-"
        "islands window. Scale shape: the join is shingle-blocked (shuffle "
        "on shingle value, never cartesian — a 100 TB corpus with little "
        "duplication produces few anchors); the window partitions by "
        "(doc pair, diagonal), so state per task is one duplicated pair's "
        "anchors. Suffix arrays don't distribute; anchor+merge is how a "
        "cluster engine gets the same spans with shuffle-local memory.",
)
def q_dedup_spans(spark, sf_dir):
    from pyspark.sql import Window

    L = _SPAN_L
    d = widen(table(spark, sf_dir, "documents")).select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    n_anchor = F.size("ws") - (L - 1)
    sh = (
        d.where(n_anchor >= 1)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), n_anchor)).alias("pos"),
            "ws",
        )
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.array_join(F.slice("ws", F.col("pos"), L), " ").alias("s"),
        )
    )
    a, b = sh.alias("a"), sh.alias("b")
    anchors = a.join(
        b,
        (F.col("a.s") == F.col("b.s"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.pos").alias("pos_a"),
        F.col("b.pos").alias("pos_b"),
    )
    diag = (F.col("pos_a") - F.col("pos_b")).alias("diag")
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = anchors.select(
        "doc_a", "doc_b", "pos_a", "pos_b", diag
    ).withColumn("grp", F.col("pos_a") - F.row_number().over(w))
    return (
        runs.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.count(F.lit(1)) + (L - 1)).alias("span_tokens"),
        )
        .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
    )


# ---------------------------------------------------------------------------
# Prefix dedup (the C4/RefinedWeb head-duplicate scrub).
# ---------------------------------------------------------------------------

_PREFIX_TOKENS = 32  # leading tokens hashed for prefix identity


@register(
    "q_dedup_prefix",
    oracle=f"""
        WITH p AS (
            SELECT doc_id,
                   md5(array_to_string(
                       string_split(text, ' ')[1:{_PREFIX_TOKENS}], ' '))
                       AS prefix_hash
            FROM documents
        ), g AS (
            SELECT prefix_hash,
                   CAST(count(*) AS BIGINT) AS n_members,
                   min(doc_id) AS keeper_id
            FROM p GROUP BY prefix_hash HAVING count(*) >= 2
        )
        SELECT p.doc_id, g.keeper_id, g.n_members,
               p.doc_id = g.keeper_id AS is_keeper
        FROM p JOIN g ON p.prefix_hash = g.prefix_hash
    """,
    origin="LLM",
    doc=f"Prefix dedup — the head-duplicate scrub real pipelines run "
        "between whole-doc md5 and shingle near-dup (mirrored-site and "
        "templated-page families share their opening passage even when "
        f"tails diverge): hash the first {_PREFIX_TOKENS} tokens, group, "
        "flag every member of a >= 2 group with its keeper (min doc_id). "
        "Scale shape: one map-side-combined groupBy on the 16-byte prefix "
        "hash + an equi join back — shuffle ∝ |docs|, never pairwise; "
        "short docs hash their full token list (slice past the end is the "
        "identity in both engines).",
)
def q_dedup_prefix(spark, sf_dir):
    d = widen(table(spark, sf_dir, "documents"))
    p = d.select(
        "doc_id",
        F.md5(
            F.array_join(
                F.slice(F.split("text", " "), 1, _PREFIX_TOKENS), " "
            )
        ).alias("prefix_hash"),
    )
    g = (
        p.groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("doc_id").alias("keeper_id"),
        )
        .filter(F.col("n_members") >= 2)
    )
    return p.join(g, "prefix_hash").select(
        "doc_id",
        "keeper_id",
        "n_members",
        (F.col("doc_id") == F.col("keeper_id")).alias("is_keeper"),
    )


@register(
    "q_dedup_degree",
    oracle=f"""
        WITH pairs AS MATERIALIZED ({_NGRAM_PAIRS_SQL}),
        deg AS (
            SELECT id, CAST(count(*) AS BIGINT) AS degree
            FROM (SELECT id_a AS id FROM pairs
                  UNION ALL SELECT id_b FROM pairs)
            GROUP BY id
        )
        SELECT degree, CAST(count(*) AS BIGINT) AS n_docs,
               min(id) AS example_doc
        FROM deg GROUP BY degree
    """,
    origin="LLM",
    doc="Near-dup pair-graph degree histogram — the dedup QA report run "
        "before clustering: per document its number of >= 0.8-Jaccard "
        "neighbors, aggregated to (degree, doc count, min example doc). "
        "A heavy tail flags template/boilerplate families (exactly the "
        "docs that explode connected components and deserve "
        "q_text_boilerplate treatment before pairwise dedup). Two "
        "map-side-combined shuffles over the pair list — |pairs| then "
        "|docs-with-dups| rows; the histogram is max-degree-sized. The "
        "min-id example is deterministic at any partitioning. The pair "
        "list is materialized ONCE (eager localCheckpoint) so the two "
        "union legs read stored rows, not two runs of the shingle "
        "pipeline.",
)
def q_dedup_degree(spark, sf_dir):
    pairs = _ngram_pairs_pinned(spark, sf_dir)
    ids = pairs.select(F.col("id_a").alias("id")).unionAll(
        pairs.select(F.col("id_b").alias("id"))
    )
    deg = ids.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("id").alias("example_doc"),
    )


# ---------------------------------------------------------------------------
# Triangle census on the near-dup pair graph (clustering QA, after the
# degree histogram and before connected components).
# ---------------------------------------------------------------------------


def _ngram_pairs_pinned(spark, sf_dir):
    """The blocked near-dup pair list, materialized exactly ONCE.

    Every graph-family consumer (degree histogram, triangle census) feeds
    the pair list into MULTIPLE plan branches (union legs, three join
    aliases). A lazily-derived `pairs` re-executes the whole shingle
    explode -> blocked-join subtree per non-aligned branch: ReuseExchange
    only recovers branches whose exchanges align exactly, and the r8 bench
    showed q_graph_triangles paying ~1.7x the single-pipeline cost.
    localCheckpoint(eager=True) truncates lineage to the stored partitions
    — the pair list is tiny relative to the corpus (bounded by the 0.8-
    Jaccard support), so the materialization is cheap and every branch
    reads the stored rows. On a real cluster this is an HDFS checkpoint,
    same pattern as q_graph_pagerank / q_dedup_cluster.
    """
    return (
        q_dedup_ngram_jaccard(spark, sf_dir)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )


@register(
    "q_graph_triangles",
    oracle=f"""
        WITH pairs AS MATERIALIZED ({_NGRAM_PAIRS_SQL}),
        tri AS (
            SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM pairs e1
            JOIN pairs e2 ON e2.id_a = e1.id_b
            JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
        ),
        deg AS (
            SELECT id, CAST(count(*) AS BIGINT) AS degree
            FROM (SELECT id_a AS id FROM pairs
                  UNION ALL SELECT id_b FROM pairs)
            GROUP BY id
        ),
        w AS (
            SELECT CAST(sum(degree * (degree - 1)) // 2 AS BIGINT)
                       AS n_wedges
            FROM deg
        ),
        e AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM pairs)
        SELECT n_edges, n_wedges, n_triangles,
               CASE WHEN n_wedges = 0 THEN NULL
                    ELSE round(3.0 * n_triangles / n_wedges, 6)
               END AS transitivity
        FROM e, w, tri
    """,
    origin="LLM",
    doc="Triangle census of the near-dup pair graph — the clustering QA "
        "step between the degree histogram (q_dedup_degree) and "
        "connected components (q_dedup_cluster): edge count, wedge "
        "count (sum deg·(deg−1)/2), triangle count, and the global "
        "transitivity 3·triangles/wedges. High transitivity means the "
        "near-dup relation is locally consistent (template families "
        "form cliques, safe to collapse); low transitivity flags "
        "chained false merges before label propagation runs. Scale "
        "shape: the canonical distributed triangle count — edges are "
        "already oriented (id_a < id_b), so each triangle {{a<b<c}} is "
        "found EXACTLY once by two equi joins over the (bounded, "
        "blocked-candidate) pair list; wedge counting is one "
        "map-side-combined degree aggregation. No per-node adjacency "
        "materialization, no driver graph. The pair list is materialized "
        "ONCE (eager localCheckpoint) — the five consuming branches "
        "(three join legs, degree, edge count) read stored rows instead "
        "of re-deriving the shingle pipeline per branch.",
)
def q_graph_triangles(spark, sf_dir):
    pairs = _ngram_pairs_pinned(spark, sf_dir)
    e1 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = pairs.select(F.col("id_a").alias("b2"), F.col("id_b").alias("c"))
    e3 = pairs.select(F.col("id_a").alias("a3"), F.col("id_b").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    ids = pairs.select(F.col("id_a").alias("id")).unionAll(
        pairs.select(F.col("id_b").alias("id"))
    )
    deg = ids.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
    wedges = deg.agg(
        F.expr("CAST(sum(degree * (degree - 1)) DIV 2 AS BIGINT)").alias(
            "n_wedges"
        )
    )
    edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        edges.crossJoin(wedges)
        .crossJoin(tri)
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") == 0, F.lit(None).cast("double")
            )
            .otherwise(
                F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6)
            )
            .alias("transitivity"),
        )
    )


# ---------------------------------------------------------------------------
# PageRank over the near-dup pair graph — pure-integer damping arithmetic.
# ---------------------------------------------------------------------------

_PR_ITERS = 3
# Rank fixed-point scale (1.0 == 1e9 units). Total mass is conserved at
# n_nodes * Q, so a single hub's rank is < n * Q and the per-iteration
# product r*17 stays inside int64 for components up to ~5e8 nodes — any
# real near-dup family. (1e12 would overflow at ~5e5-node components,
# where DuckDB silently widens to HUGEINT and the engines diverge.)
_PR_Q = 10**9
_PR_BASE = 15 * _PR_Q // 100   # (1 - d) teleport mass, d = 0.85
_PR_TOP = 20


def _pr_iter_sql(prev: str, out: str) -> str:
    """One DuckDB PageRank iteration in exact integer units."""
    return f"""
        {out} AS (
            SELECT e.id_b AS id,
                   {_PR_BASE} + sum((r.r * 17) // (20 * d.degree)) AS r
            FROM sym e
            JOIN {prev} r ON r.id = e.id_a
            JOIN deg d ON d.id = e.id_a
            GROUP BY 1
        )"""


@register(
    "q_graph_pagerank",
    oracle=f"""
        WITH pairs AS MATERIALIZED ({_NGRAM_PAIRS_SQL}),
        sym AS (
            SELECT id_a, id_b FROM pairs
            UNION ALL
            SELECT id_b, id_a FROM pairs
        ),
        deg AS (
            SELECT id_a AS id, CAST(count(*) AS BIGINT) AS degree
            FROM sym GROUP BY 1
        ),
        r0 AS (SELECT id, CAST({_PR_Q} AS BIGINT) AS r FROM deg),
        {_pr_iter_sql('r0', 'r1')},
        {_pr_iter_sql('r1', 'r2')},
        {_pr_iter_sql('r2', 'r3')}
        SELECT id, degree, round(CAST(r AS DOUBLE) / {_PR_Q}, 6) AS pagerank,
               rn AS rank
        FROM (SELECT r3.id, deg.degree, r3.r,
                     row_number() OVER (ORDER BY r3.r DESC, r3.id) AS rn
              FROM r3 JOIN deg ON deg.id = r3.id)
        WHERE rn <= {_PR_TOP}
    """,
    origin="LLM",
    doc=f"PageRank centrality of the near-dup pair graph ({_PR_ITERS} "
        "damped power iterations, d=0.85) — ranks the 'hub' documents "
        "whose template spawned the most near-copies; the prioritization "
        "signal for which duplicate families to audit first. Every rank "
        f"is an exact BIGINT in 1e-9 units: the damping step is r·17 "
        "integer-divided by 20·deg (floor — identical in both engines), "
        "so three iterations of float-free arithmetic produce "
        "bit-identical ranks under ANY summation order or partitioning "
        "— no 6-dp truce needed, the equality is exact. Scale shape: "
        "the classic Pregel loop as dataframes — per-iteration one equi "
        "join of the persisted symmetric edge list against the current "
        "rank vector plus one map-side-combined groupBy; contributions "
        "are computed per SOURCE once (r//deg), shuffle ∝|edges| per "
        "round, no adjacency list, no driver-side graph. Undirected "
        "graph ⇒ no dangling nodes, so the unnormalized per-node "
        "teleport form needs no global mass correction.",
)
def q_graph_pagerank(spark, sf_dir):
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
    # Eagerly materialize the (tiny relative to the corpus) edge list once:
    # sym feeds deg + one join per iteration, and a lazily-cached plan still
    # re-races the whole shingle pipeline across concurrently-launched
    # stages. localCheckpoint truncates lineage to the stored partitions —
    # on a real cluster this is an HDFS checkpoint, same as dedup_cluster.
    sym = pairs.union(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).localCheckpoint(eager=True)
    deg = sym.groupBy(F.col("id_a").alias("id")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    src = deg.select("id", "degree").withColumn("r", F.lit(_PR_Q).cast("long"))
    for _ in range(_PR_ITERS):
        # Integral DIV, not double '/': a float quotient within 1 ulp of an
        # integer boundary would floor differently than DuckDB's exact `//`.
        contrib = src.select(
            "id", F.expr("CAST((r * 17) DIV (20 * degree) AS BIGINT)").alias("c"),
        )
        incoming = (
            sym.join(contrib, sym.id_a == contrib.id)
            .groupBy(F.col("id_b").alias("nid"))
            .agg(F.sum("c").alias("in_c"))
        )
        src = (
            deg.join(incoming, deg.id == incoming.nid)
            .select("id", "degree", (F.lit(_PR_BASE) + F.col("in_c")).alias("r"))
        )
    from pyspark.sql import Window

    # Distributed top-k (TakeOrderedAndProject) first; the row_number
    # window then runs over only _PR_TOP rows — never a global sort.
    top = src.orderBy(F.col("r").desc(), "id").limit(_PR_TOP)
    return top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("r").desc(), F.col("id"))),
    ).select(
        "id", "degree",
        F.round(F.col("r").cast("double") / _PR_Q, 6).alias("pagerank"),
        "rank",
    )


# --- q_docs_dup_rate: corpus near-duplication KPI --------------------------


@register(
    "q_docs_dup_rate",
    oracle=f"""
        WITH pairs AS MATERIALIZED ({_NGRAM_PAIRS_SQL}),
        ids AS (
            SELECT DISTINCT unnest([id_a, id_b]) AS id FROM pairs
        ),
        c AS (SELECT CAST(count(*) AS BIGINT) AS n_near_dup_docs FROM ids),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
        SELECT n_docs, n_near_dup_docs,
               round(CAST(n_near_dup_docs AS DOUBLE)
                     / CAST(n_docs AS DOUBLE), 6) AS dup_rate
        FROM n, c
    """,
    origin="LLM",
    doc="Corpus near-duplication rate — the one-row KPI a data-quality "
        "dashboard tracks per crawl snapshot: total docs, docs having at "
        "least one near-duplicate (distinct endpoints of the blocked "
        "n-gram-Jaccard pair graph), and their ratio. Reuses the "
        "q_dedup_ngram_jaccard candidate machinery (blocked equi join, "
        "never all-pairs); both counts are map-side-combined single-row "
        "aggregates, the ratio divides two exact BIGINTs. The crossJoin "
        "is 1-row x 1-row.",
)
def q_docs_dup_rate(spark, sf_dir):
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
    # Explode, don't union: a union would consume the (unmaterialized)
    # blocked-join pipeline twice — one Generate keeps it single-pass.
    ids = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias("id")
    ).distinct()
    c = ids.agg(F.count(F.lit(1)).alias("n_near_dup_docs"))
    n = table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return n.crossJoin(c).select(
        "n_docs", "n_near_dup_docs",
        F.round(
            F.col("n_near_dup_docs").cast("double") / F.col("n_docs").cast("double"),
            6,
        ).alias("dup_rate"),
    )


@register(
    "q_dedup_crosslang",
    oracle=f"""
        WITH pairs AS MATERIALIZED ({_NGRAM_PAIRS_SQL})
        SELECT la.lang AS lang_a, lb.lang AS lang_b,
               CAST(count(*) AS BIGINT) AS n_pairs,
               la.lang <> lb.lang AS is_cross_lang
        FROM pairs
        JOIN documents la ON pairs.id_a = la.doc_id
        JOIN documents lb ON pairs.id_b = lb.doc_id
        GROUP BY 1, 2
    """,
    origin="LLM",
    doc="Template-leakage matrix: the near-dup pair graph "
        "(q_dedup_ngram_jaccard's blocked 3-shingle Jaccard ≥ 0.8) "
        "rolled up by (lang_a, lang_b) — same-language cells are "
        "ordinary duplication, CROSS-language cells are boilerplate/"
        "template leakage that survives language routing and poisons "
        "per-language dedup. Scale shape: the pair pipeline is the "
        "blocked equi join (no new fact pass); the two lang lookups are "
        "doc-keyed equi joins (co-partitioned with the pair endpoints "
        "at scale); rollup onto the ≤|langs|² grid.",
)
def q_dedup_crosslang(spark, sf_dir):
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    la = d.select(F.col("doc_id").alias("ida"), F.col("lang").alias("lang_a"))
    lb = d.select(F.col("doc_id").alias("idb"), F.col("lang").alias("lang_b"))
    return (
        pairs.join(la, pairs["id_a"] == la["ida"])
        .join(lb, pairs["id_b"] == lb["idb"])
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "lang_a", "lang_b", "n_pairs",
            (F.col("lang_a") != F.col("lang_b")).alias("is_cross_lang"),
        )
    )


# --- shared-segment scrub: the REWRITE stage downstream of q_dedup_segment --
#
# q_dedup_segment COUNTS the segments a document shares with any other
# document; this operator actually REMOVES them and reconstructs the
# document — the C4-style boilerplate scrub (Raffel et al. 2020 dedupe at
# sub-document granularity and keep the rest of the page). Same segment
# grammar as q_dedup_segment (non-overlapping 16-token cuts, md5 identity)
# so the two operators agree on what "shared" means.


@register(
    "q_dedup_scrub",
    oracle=f"""
        WITH s AS (
            SELECT doc_id, u.i,
                   array_to_string(list_slice(
                       string_split(text, ' '),
                       (u.i - 1) * {_SEG_TOKENS} + 1,
                       u.i * {_SEG_TOKENS}), ' ') AS seg
            FROM documents,
                 LATERAL (SELECT unnest(generate_series(1,
                     CAST(ceil(len(string_split(text, ' '))
                               / {_SEG_TOKENS}.0) AS BIGINT))) AS i) u
        ),
        g AS (SELECT md5(seg) AS h, count(DISTINCT doc_id) AS nd
              FROM s GROUP BY md5(seg))
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_segments,
               CAST(count(*) FILTER (g.nd < 2) AS BIGINT) AS n_kept,
               CAST(coalesce(SUM(len(string_split(seg, ' ')))
                             FILTER (g.nd < 2), 0) AS BIGINT)
                   AS kept_tokens,
               md5(coalesce(string_agg(seg, ' ' ORDER BY s.i)
                            FILTER (g.nd < 2), '')) AS scrubbed_md5
        FROM s JOIN g ON md5(s.seg) = g.h
        GROUP BY s.doc_id
    """,
    origin="LLM",
    doc="Shared-segment SCRUB with document reconstruction — the rewrite "
        "stage of sub-document dedup (C4-style): cut each document into "
        f"non-overlapping {_SEG_TOKENS}-token segments, drop every segment "
        "whose hash occurs in >= 2 distinct documents, and reassemble the "
        "survivors in original order. Output is the per-document kept "
        "counts plus the md5 of the reconstructed text (the hash pins the "
        "full rewrite byte-for-byte without shipping the text through the "
        "driver compare). Scale shape: one segment-hash groupBy (shuffle "
        "∝ corpus tokens / segment size), one equi join back, one per-doc "
        "groupBy whose collect_list is bounded by max doc length — no "
        "pairwise stage, identical plan at 100 TB. Fully-shared documents "
        "reconstruct to the empty string, not a dropped row, so the "
        "output is total over documents.",
)
def q_dedup_scrub(spark, sf_dir):
    d = widen(table(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    nseg = F.ceil(F.size(toks) / F.lit(float(_SEG_TOKENS)))
    segs = d.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(1), nseg)).alias("i"),
    ).select(
        "doc_id",
        "i",
        F.concat_ws(
            " ",
            F.slice(
                "toks", (F.col("i") - 1) * _SEG_TOKENS + 1, F.lit(_SEG_TOKENS)
            ),
        ).alias("seg"),
    )
    # nd < 2 ("no OTHER distinct document holds this segment") is exactly
    # "every instance of this hash lives in one distinct doc", i.e.
    # min(doc_id) == max(doc_id) over the hash partition. A window states
    # that with ONE pass over the segments: the former groupBy(h) +
    # join-back recomputed the whole scan→explode→slice→md5 subtree on
    # both sides of the join (2 parquet scans, SMJ at volume — both sides
    # sorted on h) where the window sorts the segment stream on h once
    # (guide §2.3: shuffle once, §3: no join at all beats picking one).
    from pyspark.sql import Window

    wh = Window.partitionBy(F.md5("seg"))
    marked = segs.select(
        "doc_id",
        "i",
        "seg",
        (F.min("doc_id").over(wh) == F.max("doc_id").over(wh)).alias("kept"),
    )
    kept = F.col("kept")
    kept_struct = F.when(kept, F.struct("i", "seg"))  # nulls skip collect_list
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.coalesce(
            F.sum(F.when(kept, F.size(F.split("seg", " ")))), F.lit(0)
        ).cast("long").alias("kept_tokens"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(kept_struct)),
                    lambda s: s["seg"],
                ),
            )
        ).alias("scrubbed_md5"),
    )


# ---------------------------------------------------------------------------
# Rare-shingle-weighted containment (the integer-exact stand-in for
# IDF-weighted Jaccard).
# ---------------------------------------------------------------------------

# Only shingles with 2 <= df <= _RARE_CAP participate: df >= 2 so a shingle
# can actually witness a pair, df <= cap so the per-shingle fan-out is
# bounded (<= cap docs -> <= cap*(cap-1)/2 pairs per shingle). Weight
# cap + 1 - df rises as the shingle gets rarer — the exact-integer analogue
# of IDF's rare-term emphasis (log-free: no libm in the score).
_RARE_CAP = 8
_RARE_PERMILLE = 200  # report pairs with weighted containment >= 0.2


@register(
    "q_dedup_rare_shingle",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id,
                   array_to_string(ws[pos:pos+2], ' ') AS s
            FROM (
                SELECT doc_id, ws,
                       CAST(unnest(generate_series(1, len(ws) - 2))
                            AS BIGINT) AS pos
                FROM toks WHERE len(ws) >= 3
            )
        ), df AS (
            SELECT s, CAST(count(*) AS BIGINT) AS df
            FROM sh GROUP BY s
        ), rare AS (
            SELECT sh.doc_id, sh.s,
                   CAST({_RARE_CAP} + 1 - df.df AS BIGINT) AS w
            FROM sh JOIN df ON sh.s = df.s
            WHERE df.df BETWEEN 2 AND {_RARE_CAP}
        ), totals AS (
            SELECT doc_id, CAST(sum(w) AS BIGINT) AS tw
            FROM rare GROUP BY doc_id
        ), pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(sum(a.w) AS BIGINT) AS overlap_w
            FROM rare a JOIN rare b
                 ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, overlap_w,
               round(CAST(overlap_w AS DOUBLE)
                     / CAST(least(ta.tw, tb.tw) AS DOUBLE), 6) AS wsim
        FROM pairs
        JOIN totals ta ON pairs.doc_a = ta.doc_id
        JOIN totals tb ON pairs.doc_b = tb.doc_id
        WHERE overlap_w * 1000 >= {_RARE_PERMILLE} * least(ta.tw, tb.tw)
    """,
    origin="LLM",
    doc=f"Rare-shingle-weighted containment — the IDF-weighted near-dup "
        "pass real curation pipelines run when plain Jaccard is swamped "
        "by boilerplate shingles: each 3-token shingle with document "
        f"frequency 2..{_RARE_CAP} carries integer weight "
        f"(cap+1−df); a pair's score is shared-weight / min(doc totals), "
        f"reported when ≥ {_RARE_PERMILLE}/1000 (the threshold compares "
        "overlap·1000 ≥ τ‰·min_total in exact integers — no float decides "
        "membership). Scale shape: the self-join runs ONLY over rare "
        f"shingles, so fan-out per join key is ≤ {_RARE_CAP} docs "
        f"(≤ {_RARE_CAP * (_RARE_CAP - 1) // 2} pairs) by the df filter "
        "itself — the frequency cutoff IS the blocking strategy, and "
        "boilerplate (high-df) shingles never reach the shuffle. "
        "Weights are exact integers; one float division at the end.",
)
def q_dedup_rare_shingle(spark, sf_dir):
    d = widen(table(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    sh = (
        d.where(F.size(toks) >= 3)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size(toks) - 2)).alias("pos"),
            toks.alias("ws"),
        )
        .select(
            "doc_id",
            F.array_join(F.slice("ws", F.col("pos"), 3), " ").alias("s"),
        )
        .distinct()
    )
    df = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    rare = (
        sh.join(df.where(F.col("df").between(2, _RARE_CAP)), "s")
        .select(
            "doc_id", "s", (F.lit(_RARE_CAP + 1) - F.col("df")).cast("long").alias("w")
        )
    )
    totals = rare.groupBy("doc_id").agg(F.sum("w").cast("long").alias("tw"))
    a, b = rare.alias("a"), rare.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum("a.w").cast("long").alias("overlap_w"))
    )
    ta = totals.select(F.col("doc_id").alias("doc_a"), F.col("tw").alias("tw_a"))
    tb = totals.select(F.col("doc_id").alias("doc_b"), F.col("tw").alias("tw_b"))
    mn = F.least("tw_a", "tw_b")
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .where(F.col("overlap_w") * 1000 >= _RARE_PERMILLE * mn)
        .select(
            "doc_a",
            "doc_b",
            "overlap_w",
            F.round(F.col("overlap_w").cast("double") / mn.cast("double"), 6)
            .alias("wsim"),
        )
    )
