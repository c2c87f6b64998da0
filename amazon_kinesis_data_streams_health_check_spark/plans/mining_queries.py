"""[EXT] Pattern-mining, tokenizer-training, and exact-statistics queries:
market-basket association rules and PMI collocations; distributed BPE merge
learning + corpus tokenization; Naive Bayes training/eval with k-fold CV by
count subtraction; Poisson-bootstrap confidence intervals; chi-square and
two-sample-KS screens in 128-bit integer arithmetic; differential-privacy
geometric release; SAX time-series motif search; Benford and key-skew /
join-cardinality operational audits; Theil-Sen robust trends — the
measurement-and-mining layer of the engine, all expressed as pure DataFrame
algebra with engine-exact integer scoring.

Cross-engine determinism: all scores are exact-integer (milli-lift via
BIGINT cross-multiplication, PMI in floor-log2 bits via ``length(bin(x))-1``
— the ``doc_surprisal_score`` device); BPE merge application is a plain
``replace`` over a canonical ``||sym||sym||`` string form whose
non-overlapping left-to-right semantics are identical in Java and DuckDB
(verified by test_mining's overlap cases).

Scale stance (100 TB):

- basket pairs come from a self-join on the uniform order key — candidate
  count is sum(basket_size^2), bounded by the per-order line limit, never
  |lineitem|^2; item marginals broadcast.
- collocation pairs are built narrowly per row from the token array (the
  ``skipgram_pairs`` window device); marginal tables broadcast (Heaps' law).
- BPE learns from the (word, count) VOCABULARY table, not the raw corpus —
  the corpus is touched once to build it; each merge round is one uniform
  pair-keyed aggregation over the vocab plus a broadcast of the single
  winning pair. Rounds are data-independent plan steps (fixed K), so the
  whole learn is one lazy DAG with no driver-side collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from amazon_kinesis_data_streams_health_check_spark.operators.calibrate import (
    duckdb_isotonic_ctes,
    isotonic_fit,
)
from amazon_kinesis_data_streams_health_check_spark.operators.textstats import TOKEN_RE
from amazon_kinesis_data_streams_health_check_spark.plans.registry import register
from amazon_kinesis_data_streams_health_check_spark.sources.tables import parallel_scan

_SPARK_TOK = f"regexp_extract_all(lower(text), '{TOKEN_RE}', 0)"
_DUCK_TOK = f"regexp_extract_all(lower(text), '{TOKEN_RE}')"


# ---------------------------------------------------------------------------
# Market-basket lift: which parts co-occur in orders more than chance — the
# association-rule screen (support / lift) on the star schema. Lift is kept
# exact: lift = N * c_xy / (c_x * c_y) is emitted in integer milli-units via
# BIGINT cross-multiplication, and the "positive association" flag compares
# 1000 * N * c_xy > 1000 * c_x * c_y without ever dividing.
# ---------------------------------------------------------------------------
_BASKET_MIN_PAIR = 2

_BASKET_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
),
n AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_baskets FROM items),
marg AS (
  SELECT part, CAST(count(*) AS BIGINT) AS c FROM items GROUP BY part
),
pairs AS (
  SELECT a.part AS part_a, b.part AS part_b,
         CAST(count(*) AS BIGINT) AS n_cooccur
  FROM items a JOIN items b ON a.okey = b.okey AND a.part < b.part
  GROUP BY a.part, b.part
)
SELECT p.part_a, p.part_b, p.n_cooccur,
       ma.c AS n_a, mb.c AS n_b,
       CAST((1000 * n.n_baskets * p.n_cooccur) // (ma.c * mb.c) AS BIGINT)
         AS lift_milli,
       n.n_baskets * p.n_cooccur > ma.c * mb.c AS positive_assoc
FROM pairs p
JOIN marg ma ON ma.part = p.part_a
JOIN marg mb ON mb.part = p.part_b
CROSS JOIN n
WHERE p.n_cooccur >= {_BASKET_MIN_PAIR}
"""


@register(
    "market_basket_lift",
    oracle=_BASKET_SQL,
    doc="Association mining: part pairs co-occurring in >= 2 orders with "
    "exact integer milli-lift and a division-free positive-association "
    "flag (N*c_xy vs c_x*c_y cross-multiplication)",
    tags=("ext", "mining", "relational"),
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the pair join shuffles both sides once on the UNIFORM
    order key; candidates per order are C(basket,2) with basket bounded by
    TPC-H's 7-line order cap, so the join output is linear in |lineitem|.
    Pair counting shuffles on the uniform (part_a, part_b) key. The
    marginal table is |parts|-sized and BROADCASTS twice; the basket count
    is a broadcast scalar. Nothing ever pairs across orders."""
    li = parallel_scan(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    ).distinct()
    n = items.agg(F.countDistinct("okey").cast("long").alias("n_baskets"))
    marg = items.groupBy("part").agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(b, (F.col("a.okey") == F.col("b.okey")) & (F.col("a.part") < F.col("b.part")))
        .groupBy(
            F.col("a.part").alias("part_a"), F.col("b.part").alias("part_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_cooccur"))
        .filter(F.col("n_cooccur") >= _BASKET_MIN_PAIR)
    )
    ma = marg.select(F.col("part").alias("part_a"), F.col("c").alias("n_a"))
    mb = marg.select(F.col("part").alias("part_b"), F.col("c").alias("n_b"))
    return (
        pairs.join(F.broadcast(ma), "part_a")
        .join(F.broadcast(mb), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "n_cooccur",
            "n_a",
            "n_b",
            F.expr("(1000 * n_baskets * n_cooccur) div (n_a * n_b)")
            .cast("long")
            .alias("lift_milli"),
            (F.col("n_baskets") * F.col("n_cooccur") > F.col("n_a") * F.col("n_b")).alias(
                "positive_assoc"
            ),
        )
    )


# ---------------------------------------------------------------------------
# PMI collocations: directed (center -> context) token pairs within a +/-3
# window whose pointwise mutual information is positive — the classic
# collocation screen. PMI needs log(N*c_xy / (c_x*c_y)); cross-engine ln()
# differs in the last ulp, so the score is floor(log2(.)) bits over the
# EXACT integer ratio (length(bin(q))-1), restricted to ratio >= 2 (>= 1
# bit of association) — monotone in true PMI and bit-identical everywhere.
# ---------------------------------------------------------------------------
_PMI_WINDOW = 3
_PMI_MIN_PAIR = 3

_PMI_SQL = f"""
WITH base AS (
  SELECT {_DUCK_TOK} AS t FROM documents
),
prs AS (
  SELECT unnest(flatten(list_transform(range(1, len(t) + 1), i ->
           list_transform(range(i + 1, least(i + {_PMI_WINDOW}, len(t)) + 1), j ->
             t[i] || ' ' || t[j])))) AS pair
  FROM base WHERE len(t) >= 2
),
split AS (
  SELECT pair,
         string_split(pair, ' ')[1] AS center,
         string_split(pair, ' ')[2] AS context
  FROM prs
),
n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM split),
cc AS (
  SELECT center, CAST(count(*) AS BIGINT) AS c_center FROM split GROUP BY center
),
cx AS (
  SELECT context, CAST(count(*) AS BIGINT) AS c_context FROM split GROUP BY context
),
pc AS (
  SELECT center, context, CAST(count(*) AS BIGINT) AS n_pair
  FROM split GROUP BY center, context
)
SELECT pc.center, pc.context, pc.n_pair,
       cc.c_center, cx.c_context,
       CAST(length(bin((n.total * pc.n_pair) // (cc.c_center * cx.c_context)))
            - 1 AS BIGINT) AS pmi_bits
FROM pc
JOIN cc ON cc.center = pc.center
JOIN cx ON cx.context = pc.context
CROSS JOIN n
WHERE pc.n_pair >= {_PMI_MIN_PAIR}
  AND n.total * pc.n_pair >= 2 * cc.c_center * cx.c_context
"""


@register(
    "collocation_pmi",
    oracle=_PMI_SQL,
    doc=f"Collocation mining: directed token pairs within a +{_PMI_WINDOW} "
    "position window with >= 1 bit of pointwise mutual information, "
    "scored in exact floor-log2 bits over the integer probability ratio",
    tags=("ext", "corpus", "mining"),
)
def collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: pair construction is narrow array indexing per row (no
    positional self-join); pair counting shuffles once on the uniform
    (center, context) key; both marginal tables are vocabulary-sized and
    BROADCAST (Heaps' law — the hot 'the'-keys never concentrate on a
    reducer); the total is a broadcast scalar. The PMI itself is pure
    per-row integer arithmetic after the joins."""
    docs = parallel_scan(spark, sf_dir, "documents")
    pair_expr = (
        f"flatten(transform(sequence(1, size(t) - 1), i ->"
        f" transform(sequence(i + 1, least(i + {_PMI_WINDOW}, size(t))), j ->"
        f" concat(element_at(t, i), ' ', element_at(t, j)))))"
    )
    split = (
        docs.select(F.expr(_SPARK_TOK).alias("t"))
        .filter(F.size("t") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("pair"))
        .select(
            F.split("pair", " ").getItem(0).alias("center"),
            F.split("pair", " ").getItem(1).alias("context"),
        )
    )
    split = split.localCheckpoint(eager=False)  # feeds n, cc, cx AND pc
    n = split.agg(F.count(F.lit(1)).cast("long").alias("total"))
    cc = split.groupBy("center").agg(F.count(F.lit(1)).cast("long").alias("c_center"))
    cx = split.groupBy("context").agg(F.count(F.lit(1)).cast("long").alias("c_context"))
    pc = (
        split.groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= _PMI_MIN_PAIR)
    )
    return (
        pc.join(F.broadcast(cc), "center")
        .join(F.broadcast(cx), "context")
        .crossJoin(F.broadcast(n))
        .filter(
            F.col("total") * F.col("n_pair")
            >= 2 * F.col("c_center") * F.col("c_context")
        )
        .select(
            "center",
            "context",
            "n_pair",
            "c_center",
            "c_context",
            (
                F.length(
                    F.expr("bin((total * n_pair) div (c_center * c_context))")
                )
                - 1
            )
            .cast("long")
            .alias("pmi_bits"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge learning: the vocabulary-construction stage of tokenizer
# training, distributed. BPE learns from the (word, count) table — each
# round counts weighted adjacent symbol pairs, picks the most frequent pair
# (count desc, pair asc tie-break), and merges it everywhere. Words are kept
# in a canonical "||sym||sym||" string form so the merge is a single
# replace('|a||b|', '|ab|'): the pattern starts inside the left double
# separator and ends inside the right one, so consecutive pair occurrences
# never share consumed characters and plain non-overlapping left-to-right
# replace implements exactly the greedy BPE merge scan — identical
# semantics in Java and DuckDB (pinned by tests/test_mining.py).
# ---------------------------------------------------------------------------
_BPE_ROUNDS = 4
_BPE_EOW = "$"  # end-of-word symbol; outside TOKEN_RE's charset


def _duck_bpe_round(prev: str, rnd: int) -> str:
    """One DuckDB merge round: pair counts from vocab ``{prev}``, winner by
    (count desc, pair asc), merge applied via canonical-form replace."""
    return f"""
pairs_{rnd} AS (
  SELECT p.pair, CAST(sum(p.n) AS BIGINT) AS cnt
  FROM (
    SELECT unnest(list_transform(range(1, len(syms)),
             i -> syms[i] || '\x01' || syms[i + 1])) AS pair,
           n
    FROM (SELECT n, list_filter(string_split(w, '||'), s -> s <> '') AS syms
          FROM {prev}) v
    WHERE len(syms) >= 2
  ) p GROUP BY p.pair
),
best_{rnd} AS (
  SELECT pair, cnt,
         string_split(pair, '\x01')[1] AS a,
         string_split(pair, '\x01')[2] AS b
  FROM pairs_{rnd} ORDER BY cnt DESC, pair LIMIT 1
),
vocab_{rnd} AS (
  SELECT v.word,
         replace(v.w, '|' || b.a || '||' || b.b || '|', '|' || b.a || b.b || '|')
           AS w,
         v.n
  FROM {prev} v CROSS JOIN best_{rnd} b
)"""


#: Shared CTE prefix: corpus -> (word, canonical form, count) vocabulary,
#: then _BPE_ROUNDS merge rounds (vocab_K is the post-merge vocabulary).
_BPE_CHAIN_SQL = (
    f"""
WITH tok AS (
  SELECT unnest({_DUCK_TOK}) AS word FROM documents
),
vocab_0 AS (
  SELECT word,
         '||' || list_aggregate(
           list_transform(range(1, length(word) + 1), i -> word[i]), 'string_agg', '||')
         || '||{_BPE_EOW}||' AS w,
         CAST(count(*) AS BIGINT) AS n
  FROM tok GROUP BY word
),"""
    + ",".join(_duck_bpe_round(f"vocab_{r - 1}", r) for r in range(1, _BPE_ROUNDS + 1))
)

_BPE_SQL = (
    _BPE_CHAIN_SQL
    + "\n"
    + "\nUNION ALL\n".join(
        f"""
SELECT CAST({r} AS BIGINT) AS merge_round,
       replace(b.pair, '\x01', ' ') AS merged_pair,
       b.cnt AS merge_count,
       (SELECT CAST(sum(n * (len(list_filter(string_split(w, '||'), s -> s <> ''))))
                    AS BIGINT)
        FROM vocab_{r}) AS n_symbols_after
FROM best_{r} b"""
        for r in range(1, _BPE_ROUNDS + 1)
    )
)


@register(
    "bpe_merge_learn",
    oracle=_BPE_SQL,
    doc=f"Tokenizer training: {_BPE_ROUNDS} rounds of distributed BPE merge "
    "learning over the corpus word-frequency table — weighted adjacent-pair "
    "counts, deterministic winner (count desc, pair asc), merge applied "
    "everywhere via canonical-form string replace; emits each round's "
    "winning pair, its count, and the weighted symbol total after the merge",
    tags=("ext", "corpus", "mining", "tokenizer", "bench"),
)
def bpe_merge_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the corpus is scanned ONCE to build the (word, count)
    vocabulary — everything after runs on the vocab table, which is orders
    of magnitude smaller (Heaps' law; this is how reference BPE trainers
    work too). Each round: one narrow pair-explode over the vocab, one
    uniform pair-keyed weighted count, a top-1 TakeOrdered (tiny), and the
    1-row winner BROADCAST back for a narrow replace pass. K rounds = K
    such steps in one lazy DAG; the corpus-derived round-0 vocab is
    localCheckpoint-pinned once and each round's 1-row winner is pinned,
    so re-deriving round r-1 for round r's consumers replays only cheap
    broadcast-replace maps. No driver-side collect anywhere."""
    bests, vocabs = _spark_bpe_chain(spark, sf_dir)
    out_parts = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        total = vocabs[rnd].agg(
            F.sum(F.col("n") * F.size(F.expr(_BPE_SYMS)))
            .cast("long")
            .alias("n_symbols_after")
        )
        out_parts.append(
            bests[rnd].select(
                F.lit(rnd).cast("long").alias("merge_round"),
                F.expr("replace(pair, '\x01', ' ')").alias("merged_pair"),
                F.col("cnt").alias("merge_count"),
            ).crossJoin(F.broadcast(total))
        )
    out = out_parts[0]
    for part in out_parts[1:]:
        out = out.unionByName(part)
    return out


_BPE_SYMS = "filter(split(w, '[|][|]'), s -> s != '')"


def _spark_bpe_chain(spark: SparkSession, sf_dir: str):
    """Build the shared BPE DAG: returns ``(bests, vocabs)`` where
    ``vocabs[r]`` is the (word, w, n) vocabulary after round r (``vocabs[0]``
    = character-split) and ``bests[r]`` is round r's 1-row winning pair
    (pair, cnt, a, b). Everything is lazy; each stage is
    localCheckpoint-pinned because it feeds multiple consumers."""
    docs = parallel_scan(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.expr(_SPARK_TOK)).alias("word"))
    vocab = tok.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("n"))
    # canonical "||c||c||...||$||" form
    vocab = vocab.select(
        "word",
        F.concat(
            F.lit("||"),
            F.expr(
                "array_join(transform(sequence(1, length(word)),"
                " i -> substring(word, i, 1)), '||')"
            ),
            F.lit(f"||{_BPE_EOW}||"),
        ).alias("w"),
        "n",
    )
    bests: dict[int, DataFrame] = {}
    vocabs: dict[int, DataFrame] = {}
    vocabs[0] = vocab
    for rnd in range(1, _BPE_ROUNDS + 1):
        if rnd == 1:
            # Pin ONLY the corpus-derived round-0 vocabulary. Later rounds
            # are narrow broadcast-replace maps over this pin: replaying
            # round r-1's replace chain per consumer costs O(rounds) cheap
            # string maps on the Heaps-bounded type table, while pinning
            # every round cost a serial toRdd job barrier per round at
            # build time (round-10 A/B: 1.60 -> 1.45s; guide section 2 —
            # fewer jobs on the serial critical path). The 1-row winner
            # pins below stay: without them the round-r replay re-derives
            # every earlier round's TakeOrdered winner and the chain blows
            # up (measured 2.1s).
            vocab = vocab.localCheckpoint(eager=False)
        vocabs[rnd - 1] = vocab
        pairs = (
            vocab.select(F.expr(_BPE_SYMS).alias("syms"), "n")
            .filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> concat(element_at(syms, i), '\x01',"
                        " element_at(syms, i + 1)))"
                    )
                ).alias("pair"),
                "n",
            )
            .groupBy("pair")
            .agg(F.sum("n").cast("long").alias("cnt"))
        )
        best = (
            pairs.orderBy(F.desc("cnt"), "pair")
            .limit(1)
            .select(
                "pair",
                "cnt",
                F.split("pair", "\x01").getItem(0).alias("a"),
                F.split("pair", "\x01").getItem(1).alias("b"),
            )
        )
        best = best.localCheckpoint(eager=False)  # feeds vocab AND the caller
        bests[rnd] = best
        vocab = vocab.crossJoin(F.broadcast(best)).select(
            "word",
            F.expr(
                "replace(w, concat('|', a, '||', b, '|'),"
                " concat('|', a, b, '|'))"
            ).alias("w"),
            "n",
        )
        vocabs[rnd] = vocab
    return bests, vocabs


# ---------------------------------------------------------------------------
# BPE tokenization apply: the other half of the tokenizer story — run the
# learned merge table over the corpus and measure what it bought. Because
# BPE segmentation is a function of the word alone, the corpus is NEVER
# re-segmented: the post-merge vocabulary (word -> symbol count) joins back
# onto per-(source, word) occurrence counts. Token accounting per source:
# characters+1 symbols before any merge, the learned segmentation after,
# and the exact milli compression ratio.
# ---------------------------------------------------------------------------
_BPE_APPLY_SQL = (
    _BPE_CHAIN_SQL
    + f""",
seg AS (
  SELECT word,
         CAST(len(list_filter(string_split(w, '||'), s -> s <> '')) AS BIGINT)
           AS n_sym
  FROM vocab_{_BPE_ROUNDS}
),
occ AS (
  SELECT source, unnest({_DUCK_TOK}) AS word FROM documents
),
cnt AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS m
  FROM occ GROUP BY source, word
)
SELECT c.source,
       CAST(sum(c.m) AS BIGINT) AS n_words,
       CAST(sum(c.m * (length(c.word) + 1)) AS BIGINT) AS n_symbols_char,
       CAST(sum(c.m * s.n_sym) AS BIGINT) AS n_symbols_bpe,
       CAST(1000 * sum(c.m * s.n_sym) // sum(c.m * (length(c.word) + 1))
            AS BIGINT) AS compression_milli
FROM cnt c JOIN seg s ON c.word = s.word
GROUP BY c.source
"""
)


@register(
    "bpe_tokenize_apply",
    oracle=_BPE_APPLY_SQL,
    doc=f"Tokenizer application: segment the corpus with the {_BPE_ROUNDS} "
    "learned BPE merges and account per source for words, char-level "
    "symbols, post-merge symbols, and the exact milli compression ratio — "
    "segmentation computed once per word TYPE and joined back, never "
    "recomputed per occurrence",
    tags=("ext", "corpus", "tokenizer"),
)
def bpe_tokenize_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the learn DAG runs on the vocabulary (tiny, Heaps' law);
    the corpus contributes one (source, word)-keyed counting aggregation —
    uniform compound key — and the word->symbol-count segmentation table
    BROADCASTS onto it. Tokenizing 100 TB is therefore one count pass plus
    a broadcast join; no text ever moves through a shuffle."""
    _, vocabs = _spark_bpe_chain(spark, sf_dir)
    seg = vocabs[_BPE_ROUNDS].select(
        "word", F.size(F.expr(_BPE_SYMS)).cast("long").alias("n_sym")
    )
    docs = parallel_scan(spark, sf_dir, "documents")
    cnt = (
        docs.select("source", F.explode(F.expr(_SPARK_TOK)).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    joined = cnt.join(F.broadcast(seg), "word")
    return joined.groupBy("source").agg(
        F.sum("m").cast("long").alias("n_words"),
        F.sum(F.col("m") * (F.length("word") + 1)).cast("long").alias("n_symbols_char"),
        F.sum(F.col("m") * F.col("n_sym")).cast("long").alias("n_symbols_bpe"),
        F.expr(
            "1000 * sum(m * n_sym) div sum(m * (length(word) + 1))"
        )
        .cast("long")
        .alias("compression_milli"),
    )


# ---------------------------------------------------------------------------
# Naive Bayes training + evaluation: the classical counting classifier IS a
# pair of aggregations, which makes it the canonical "model training as a
# query" operator. Add-one smoothed log-likelihoods are kept integer-exact
# with the floor-log2 surprisal device (doc_surprisal_score): the per-token
# cost of class L is floor(log2((c_L + V) div (c_wL + 1))) bits, the class
# prior is floor(log2(n_docs div n_docs_L)) bits, and the prediction is the
# minimum total cost with a lexicographic class tie-break — engine-portable
# without ever taking a float logarithm. Output: the confusion matrix of
# resubstitution predictions against the labeled `lang` column.
# ---------------------------------------------------------------------------
#: Shared CTE prefix: per-(doc, candidate-class) integer surprisal costs —
#: the relation the classifier, the k-fold CV, and the margin calibration
#: all read.
_NB_SCORED_CTES = f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({_DUCK_TOK}) AS word FROM documents
),
langs AS (
  SELECT lang,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_l
  FROM documents GROUP BY lang
),
ntot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
v AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS vocab FROM tok),
cl AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS c_l FROM tok GROUP BY lang
),
cw AS (
  SELECT lang, word, CAST(count(*) AS BIGINT) AS c_wl
  FROM tok GROUP BY lang, word
),
tokbits AS (
  SELECT t.doc_id, l.lang AS cand,
         CAST(sum(length(bin((cl.c_l + v.vocab) // (COALESCE(cw.c_wl, 0) + 1)))
                  - 1) AS BIGINT) AS sum_bits
  FROM tok t
  CROSS JOIN langs l
  JOIN cl ON cl.lang = l.lang
  CROSS JOIN v
  LEFT JOIN cw ON cw.lang = l.lang AND cw.word = t.word
  GROUP BY t.doc_id, l.lang
),
scored AS (
  SELECT d.doc_id, d.lang AS true_lang, l.lang AS cand,
         CAST(length(bin(n.n_docs // l.n_docs_l)) - 1
              + COALESCE(tb.sum_bits, 0) AS BIGINT) AS cost_bits
  FROM documents d
  CROSS JOIN langs l
  CROSS JOIN ntot n
  LEFT JOIN tokbits tb ON tb.doc_id = d.doc_id AND tb.cand = l.lang
)"""

_NB_SQL = (
    _NB_SCORED_CTES
    + """,
best AS (
  SELECT doc_id, min(cost_bits) AS best_bits FROM scored GROUP BY doc_id
),
pred AS (
  SELECT s.doc_id, s.true_lang, min(s.cand) AS pred_lang
  FROM scored s JOIN best b
    ON b.doc_id = s.doc_id AND s.cost_bits = b.best_bits
  GROUP BY s.doc_id, s.true_lang
)
SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM pred GROUP BY true_lang, pred_lang
"""
)


def _nb_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, candidate-class) integer surprisal costs (checkpointed) —
    the shared relation behind the NB classifier and its margin
    calibration; mirrors the `_NB_SCORED_CTES` SQL prefix."""
    docs = parallel_scan(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.expr(_SPARK_TOK)).alias("word")
    )
    tok = tok.localCheckpoint(eager=False)  # feeds cl, cw, v AND scoring
    langs = docs.groupBy("lang").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs_l")
    )
    ntot = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    v = tok.agg(F.countDistinct("word").cast("long").alias("vocab"))
    cl = tok.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("c_l"))
    cw = tok.groupBy("lang", "word").agg(
        F.count(F.lit(1)).cast("long").alias("c_wl")
    )
    cand = (
        langs.join(cl, "lang")
        .select(F.col("lang").alias("cand"), "n_docs_l", "c_l")
    )
    tokbits = (
        tok.crossJoin(F.broadcast(cand))
        .join(
            F.broadcast(cw).withColumnRenamed("lang", "cand"),
            ["cand", "word"],
            "left",
        )
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id", "cand")
        .agg(
            F.sum(
                F.length(
                    F.expr("bin((c_l + vocab) div (coalesce(c_wl, 0) + 1))")
                )
                - 1
            )
            .cast("long")
            .alias("sum_bits")
        )
    )
    scored = (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .crossJoin(F.broadcast(cand.select("cand", "n_docs_l")))
        .crossJoin(F.broadcast(ntot))
        .join(tokbits, ["doc_id", "cand"], "left")
        .select(
            "doc_id",
            "true_lang",
            "cand",
            (
                F.length(F.expr("bin(n_docs div n_docs_l)"))
                - 1
                + F.coalesce(F.col("sum_bits"), F.lit(0))
            )
            .cast("long")
            .alias("cost_bits"),
        )
    )
    return scored.localCheckpoint(eager=False)  # feeds best AND pred legs


@register(
    "naive_bayes_source_classify",
    oracle=_NB_SQL,
    doc="Model training as a query: add-one smoothed multinomial Naive "
    "Bayes over the `lang` label — training is two counting aggregations, "
    "scoring is integer floor-log2 surprisal bits, prediction is min-cost "
    "with lexicographic tie-break; emits the resubstitution confusion matrix",
    tags=("ext", "corpus", "mining", "ml"),
)
def naive_bayes_source_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the model (per-class word counts) is vocabulary x
    |classes| — broadcast-sized by Heaps' law, like doc_surprisal_score's
    unigram table. Scoring re-scans tokens once, expands by |classes|
    (a bounded constant), and aggregates on the uniform (doc, class) key;
    the argmin is two tiny keyed aggregations (min cost, then min class at
    that cost) instead of an engine-specific argmin — portable and
    deterministic. Training 100 TB of labeled text = one shuffle on
    (class, word) and one on (doc, class). No float logs anywhere."""
    scored = _nb_scored(spark, sf_dir)
    best = (
        scored.groupBy("doc_id")
        .agg(F.min("cost_bits").alias("best_bits"))
        .withColumnRenamed("doc_id", "best_doc_id")
    )
    pred = (
        scored.join(
            best,
            (F.col("doc_id") == F.col("best_doc_id"))
            & (F.col("cost_bits") == F.col("best_bits")),
        )
        .groupBy("doc_id", "true_lang")
        .agg(F.min("cand").alias("pred_lang"))
    )
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence intervals: the resampling scheme that scales —
# instead of drawing B full resamples (impossible distributed), each row
# contributes to every replicate with an independent Poisson(1) multiplicity,
# so B=64 bootstrap replicates are ONE narrow pass with a x64 fan-out.
# Determinism: the Poisson draw is the inverse-CDF of an md5-uniform on
# (doc_id, replicate) — both engines derive identical uint32s and walk the
# same precomputed threshold ladder, so every replicate is bit-reproducible
# (no rand(), retry/repartition-invariant like the curation samplers).
# ---------------------------------------------------------------------------
_BOOT_B = 64
#: floor(P_Poisson1(X <= k) * 2^32) for k = 0..6; u >= all => weight 7.
_BOOT_THRESH = (
    1580030168,
    3160060337,
    3950075421,
    4213413783,
    4279248373,
    4292415291,
    4294609777,
)


def _boot_weight_case(u: str) -> str:
    """Shared CASE ladder mapping a uint32 expr to a Poisson(1) draw."""
    arms = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_BOOT_THRESH)
    )
    return f"CASE {arms} ELSE 7 END"


_BOOT_SQL = f"""
WITH fan AS (
  SELECT doc_id, source, n_chars, unnest(range(0, {_BOOT_B})) AS b
  FROM documents
),
w AS (
  SELECT source, b, n_chars,
         {_boot_weight_case("CAST(('0x' || substr(md5(CAST(doc_id * " + str(_BOOT_B) + " + b AS VARCHAR)), 1, 8)) AS BIGINT)")} AS wt
  FROM fan
),
reps AS (
  SELECT source, b,
         CAST(1000000 * sum(wt * n_chars) // sum(wt) AS BIGINT) AS mean_micro
  FROM w GROUP BY source, b HAVING sum(wt) > 0
),
ci AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_replicates,
         list_sort(list(mean_micro)) AS ms
  FROM reps GROUP BY source
),
pt AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(1000000 * sum(n_chars) // count(*) AS BIGINT) AS mean_micro
  FROM documents GROUP BY source
)
SELECT pt.source, pt.n_docs, pt.mean_micro,
       ci.n_replicates,
       CAST(ci.ms[2] AS BIGINT) AS ci_lo_micro,
       CAST(ci.ms[{_BOOT_B - 1}] AS BIGINT) AS ci_hi_micro
FROM pt JOIN ci ON ci.source = pt.source
"""


@register(
    "bootstrap_ci_poisson",
    oracle=_BOOT_SQL,
    doc=f"Poisson bootstrap: {_BOOT_B} deterministic hash-weighted replicates "
    "of per-source mean document length in one pass — md5-derived "
    "Poisson(1) multiplicities, exact integer replicate means, empirical "
    "2nd/63rd order statistics as the confidence band",
    tags=("ext", "corpus", "stats"),
)
def bootstrap_ci_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: replicate fan-out is a narrow explode of a constant
    64-element array (no shuffle, x64 row multiplier on a scan that only
    carries (source, n_chars)); replicate means aggregate on the uniform
    (source, b) key with map-side partials; the CI step collects exactly
    B=64 integers per source — bounded state, like the two-phase top-k
    merges. This is how you bootstrap 100 TB: never B scans, one weighted
    pass. Weights are md5-inverse-CDF draws, so any engine, partitioning,
    or retry reproduces the identical resample."""
    docs = parallel_scan(spark, sf_dir, "documents")
    u32 = (
        f"CAST(conv(substr(md5(CAST(doc_id * {_BOOT_B} + b AS STRING)), 1, 8),"
        " 16, 10) AS BIGINT)"
    )
    fan = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.explode(F.expr(f"sequence(0, {_BOOT_B - 1})")).alias("b"),
    )
    w = fan.select(
        "source", "b", "n_chars", F.expr(_boot_weight_case(u32)).alias("wt")
    )
    reps = (
        w.groupBy("source", "b")
        .agg(
            F.expr("1000000 * sum(wt * n_chars) div sum(wt)").alias("mean_micro"),
            F.sum("wt").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select("source", "b", F.col("mean_micro").cast("long").alias("mean_micro"))
    )
    ci = reps.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
        F.array_sort(F.collect_list("mean_micro")).alias("ms"),
    )
    pt = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("1000000 * sum(n_chars) div count(1)").cast("long").alias("mean_micro"),
    )
    return pt.join(ci, "source").select(
        "source",
        "n_docs",
        "mean_micro",
        "n_replicates",
        F.element_at("ms", 2).cast("long").alias("ci_lo_micro"),
        F.element_at("ms", _BOOT_B - 1).cast("long").alias("ci_hi_micro"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence screen: is event value independent of time-of-day,
# per stream? The 2x2 test statistic chi2 = N(ad-bc)^2 / (R1 R2 C1 C2) is
# kept EXACT by computing both the statistic (micro-units, integer floor
# division) and the 95% significance decision (cross-multiplication against
# 3.841459 scaled to micro) in 128-bit integer arithmetic — DECIMAL(38,0)
# on the Spark side, HUGEINT in DuckDB — because (ad-bc)^2 * N * 1e6
# overflows BIGINT at sf >= 0.1. No float chi-square, no division in the
# decision.
# ---------------------------------------------------------------------------
_CHI2_CRIT_MICRO = 3_841_459  # chi2_{0.95, df=1} * 1e6
_CHI2_VALUE_THRESH = 250.0
_CHI2_PEAK_LO = 12  # hour-of-day >= 12 counts as "peak"

_CHI2_SQL = f"""
WITH cells AS (
  SELECT event_type AS stream_name,
         CAST(sum(CASE WHEN peak AND high THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN peak AND NOT high THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(sum(CASE WHEN NOT peak AND high THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(sum(CASE WHEN NOT peak AND NOT high THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM (
    SELECT event_type,
           CAST(floor(epoch(ts) / 3600) % 24 AS BIGINT) >= {_CHI2_PEAK_LO} AS peak,
           value > {_CHI2_VALUE_THRESH} AS high
    FROM events
  ) GROUP BY event_type
),
wide AS (
  SELECT stream_name, a, b, c, d,
         CAST(a + b + c + d AS HUGEINT) AS n,
         CAST(a AS HUGEINT) * CAST(d AS HUGEINT)
           - CAST(b AS HUGEINT) * CAST(c AS HUGEINT) AS diff,
         CAST(a + b AS HUGEINT) * CAST(c + d AS HUGEINT)
           * CAST(a + c AS HUGEINT) * CAST(b + d AS HUGEINT) AS den
  FROM cells
)
SELECT stream_name, a, b, c, d,
       CAST(n AS BIGINT) AS n,
       CAST((1000000 * n * diff * diff) // nullif(den, 0) AS BIGINT)
         AS chi2_micro,
       1000000 * n * diff * diff > {_CHI2_CRIT_MICRO} * den AS significant_95
FROM wide
"""


@register(
    "chi2_independence_2x2",
    oracle=_CHI2_SQL,
    doc="Statistical screen: per-stream 2x2 chi-square test of value-level "
    "vs time-of-day independence — statistic in exact integer micro-units "
    "and the 95% decision by 128-bit cross-multiplication, no float "
    "chi-square and no division in the decision path",
    tags=("ext", "mining", "stats"),
)
def chi2_independence_2x2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one narrow scan derives (peak, high) per row, one keyed
    counting aggregation produces a |streams|-row contingency table, and
    the test itself is per-row 128-bit arithmetic on that tiny table.
    The entire 100 TB cost is the scan + a 4-counter map-side-combined
    aggregation. DECIMAL(38,0) holds 1e6 * N * (ad-bc)^2 up to N ~ 3e9
    rows per stream; beyond that the counts themselves need sharding."""
    events = parallel_scan(spark, sf_dir, "events")
    flags = events.select(
        F.col("event_type").alias("stream_name"),
        (
            (F.floor(F.unix_timestamp("ts") / 3600) % 24).cast("long")
            >= _CHI2_PEAK_LO
        ).alias("peak"),
        (F.col("value") > _CHI2_VALUE_THRESH).alias("high"),
    )
    cells = flags.groupBy("stream_name").agg(
        F.sum((F.col("peak") & F.col("high")).cast("int")).cast("long").alias("a"),
        F.sum((F.col("peak") & ~F.col("high")).cast("int")).cast("long").alias("b"),
        F.sum((~F.col("peak") & F.col("high")).cast("int")).cast("long").alias("c"),
        F.sum((~F.col("peak") & ~F.col("high")).cast("int")).cast("long").alias("d"),
    )
    # Loud overflow guard: with ANSI off, a DECIMAL(38,0) product overflow
    # yields NULL on the Spark side while DuckDB's HUGEINT raises — a
    # silent-vs-loud cross-engine divergence. Worst case 1e6*N*(ad-bc)^2
    # <= 1e6*N^5/16 must stay under 10^38, so N <= ~4.3e6 rows per stream
    # is the exact-arithmetic bound; beyond it, fail like DuckDB does.
    _chi2_n_max = 4_300_000
    cells = cells.select(
        "stream_name",
        F.when(
            F.expr("a + b + c + d") > _chi2_n_max,
            F.raise_error(
                F.lit(
                    "chi2_independence_2x2: per-stream count exceeds the "
                    "DECIMAL(38,0) exact-arithmetic bound (~4.3e6 rows); "
                    "shard the counts before testing"
                )
            ).cast("long"),
        )
        .otherwise(F.col("a"))
        .alias("a"),
        "b",
        "c",
        "d",
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    wide = cells.select(
        "stream_name",
        "a",
        "b",
        "c",
        "d",
        F.expr(dec.format("a + b + c + d")).alias("n"),
        F.expr(
            f"{dec.format('a')} * {dec.format('d')} - {dec.format('b')} * {dec.format('c')}"
        ).alias("diff"),
        F.expr(
            f"{dec.format('a + b')} * {dec.format('c + d')}"
            f" * {dec.format('a + c')} * {dec.format('b + d')}"
        ).alias("den"),
    )
    return wide.select(
        "stream_name",
        "a",
        "b",
        "c",
        "d",
        F.col("n").cast("long").alias("n"),
        F.expr("(1000000 * n * diff * diff) div nullif(den, 0)")
        .cast("long")
        .alias("chi2_micro"),
        F.expr(f"1000000 * n * diff * diff > {_CHI2_CRIT_MICRO} * den").alias(
            "significant_95"
        ),
    )


# ---------------------------------------------------------------------------
# Cross-validated Naive Bayes: the honest version of the resubstitution
# matrix above. The key scale move: per-fold models are NEVER retrained —
# because NB sufficient statistics are mergeable counts, the fold-f training
# model is (global counts) MINUS (fold-f counts), one subtraction join
# instead of k recounting passes over the corpus. Per-fold vocabulary sizes
# shrink the same way (words whose count lives entirely in fold f drop out).
# ---------------------------------------------------------------------------
_NBCV_FOLDS = 3

_NBCV_SQL = f"""
WITH tok AS (
  SELECT doc_id, CAST(doc_id % {_NBCV_FOLDS} AS BIGINT) AS fold, lang,
         unnest({_DUCK_TOK}) AS word
  FROM documents
),
docs_l AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs_l FROM documents GROUP BY lang
),
docs_lf AS (
  SELECT CAST(doc_id % {_NBCV_FOLDS} AS BIGINT) AS fold, lang,
         CAST(count(*) AS BIGINT) AS n_docs_lf
  FROM documents GROUP BY 1, 2
),
cl AS (SELECT lang, CAST(count(*) AS BIGINT) AS c_l FROM tok GROUP BY lang),
clf AS (
  SELECT fold, lang, CAST(count(*) AS BIGINT) AS c_lf FROM tok GROUP BY fold, lang
),
cw AS (
  SELECT lang, word, CAST(count(*) AS BIGINT) AS c_wl FROM tok GROUP BY lang, word
),
cwf AS (
  SELECT fold, lang, word, CAST(count(*) AS BIGINT) AS c_wlf
  FROM tok GROUP BY fold, lang, word
),
wtot AS (SELECT word, CAST(count(*) AS BIGINT) AS c_w FROM tok GROUP BY word),
wf AS (
  SELECT fold, word, CAST(count(*) AS BIGINT) AS c_wf FROM tok GROUP BY fold, word
),
vf AS (
  SELECT f.fold,
         CAST(sum(CASE WHEN w.c_w - COALESCE(x.c_wf, 0) > 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS vocab
  FROM (SELECT unnest(range(0, {_NBCV_FOLDS})) AS fold) f
  CROSS JOIN wtot w
  LEFT JOIN wf x ON x.fold = f.fold AND x.word = w.word
  GROUP BY f.fold
),
tokbits AS (
  SELECT t.doc_id, t.fold, l.lang AS cand,
         CAST(sum(length(bin(
           (cl.c_l - COALESCE(clf.c_lf, 0) + vf.vocab)
           // (COALESCE(cw.c_wl, 0) - COALESCE(cwf.c_wlf, 0) + 1))) - 1)
           AS BIGINT) AS sum_bits
  FROM tok t
  CROSS JOIN docs_l l
  JOIN cl ON cl.lang = l.lang
  LEFT JOIN clf ON clf.fold = t.fold AND clf.lang = l.lang
  JOIN vf ON vf.fold = t.fold
  LEFT JOIN cw ON cw.lang = l.lang AND cw.word = t.word
  LEFT JOIN cwf ON cwf.fold = t.fold AND cwf.lang = l.lang AND cwf.word = t.word
  GROUP BY t.doc_id, t.fold, l.lang
),
ntot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
nf AS (
  SELECT CAST(doc_id % {_NBCV_FOLDS} AS BIGINT) AS fold,
         CAST(count(*) AS BIGINT) AS n_docs_f
  FROM documents GROUP BY 1
),
scored AS (
  SELECT d.doc_id, CAST(d.doc_id % {_NBCV_FOLDS} AS BIGINT) AS fold,
         d.lang AS true_lang, l.lang AS cand,
         CAST(length(bin((n.n_docs - nf.n_docs_f)
                         // (l.n_docs_l - COALESCE(df.n_docs_lf, 0)))) - 1
              + COALESCE(tb.sum_bits, 0) AS BIGINT) AS cost_bits
  FROM documents d
  CROSS JOIN docs_l l
  CROSS JOIN ntot n
  JOIN nf ON nf.fold = CAST(d.doc_id % {_NBCV_FOLDS} AS BIGINT)
  LEFT JOIN docs_lf df
    ON df.fold = CAST(d.doc_id % {_NBCV_FOLDS} AS BIGINT) AND df.lang = l.lang
  LEFT JOIN tokbits tb ON tb.doc_id = d.doc_id AND tb.cand = l.lang
  WHERE l.n_docs_l - COALESCE(df.n_docs_lf, 0) > 0
),
best AS (
  SELECT doc_id, min(cost_bits) AS best_bits FROM scored GROUP BY doc_id
),
pred AS (
  SELECT s.doc_id, s.fold, s.true_lang, min(s.cand) AS pred_lang
  FROM scored s JOIN best b
    ON b.doc_id = s.doc_id AND s.cost_bits = b.best_bits
  GROUP BY s.doc_id, s.fold, s.true_lang
)
SELECT fold,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN true_lang = pred_lang THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       CAST(1000 * sum(CASE WHEN true_lang = pred_lang THEN 1 ELSE 0 END)
            // count(*) AS BIGINT) AS accuracy_milli
FROM pred GROUP BY fold
"""


@register(
    "naive_bayes_crossval",
    oracle=_NBCV_SQL,
    doc=f"{_NBCV_FOLDS}-fold cross-validated Naive Bayes: per-fold models "
    "derived by SUBTRACTING fold counts from global counts (mergeable "
    "sufficient statistics — no retraining pass), per-fold vocabularies "
    "shrunk the same way; emits per-fold held-out accuracy in exact milli",
    tags=("ext", "corpus", "mining", "ml"),
)
def naive_bayes_crossval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one token scan feeds ALL count tables (global and
    per-fold — each a keyed aggregation with map-side partials); every
    model table is vocabulary- or |langs|-sized and BROADCASTS; the scoring
    pass re-scans tokens once and aggregates on the uniform (doc, class)
    key. k-fold evaluation of a counting classifier costs the same as
    1-fold because training is subtraction, not recomputation — the
    mergeability argument that also powers the sketch rollups."""
    docs = parallel_scan(spark, sf_dir, "documents")
    fold = (F.col("doc_id") % _NBCV_FOLDS).cast("long")
    tok = docs.select(
        "doc_id", fold.alias("fold"), "lang", F.explode(F.expr(_SPARK_TOK)).alias("word")
    )
    tok = tok.localCheckpoint(eager=False)
    docs_l = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_docs_l"))
    docs_lf = docs.groupBy(fold.alias("fold"), "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_lf")
    )
    cl = tok.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("c_l"))
    clf = tok.groupBy("fold", "lang").agg(F.count(F.lit(1)).cast("long").alias("c_lf"))
    cw = tok.groupBy("lang", "word").agg(F.count(F.lit(1)).cast("long").alias("c_wl"))
    cwf = tok.groupBy("fold", "lang", "word").agg(
        F.count(F.lit(1)).cast("long").alias("c_wlf")
    )
    wtot = tok.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("c_w"))
    wf = tok.groupBy("fold", "word").agg(F.count(F.lit(1)).cast("long").alias("c_wf"))
    folds = spark.range(_NBCV_FOLDS).select(F.col("id").cast("long").alias("fold"))
    vf = (
        folds.crossJoin(F.broadcast(wtot))
        .join(F.broadcast(wf), ["fold", "word"], "left")
        .groupBy("fold")
        .agg(
            F.sum(
                (F.col("c_w") - F.coalesce(F.col("c_wf"), F.lit(0)) > 0).cast("int")
            )
            .cast("long")
            .alias("vocab")
        )
    )
    cand = docs_l.select(F.col("lang").alias("cand"), "n_docs_l")
    tokbits = (
        tok.crossJoin(F.broadcast(cand.select("cand")))
        .join(F.broadcast(cl).withColumnRenamed("lang", "cand"), "cand")
        .join(
            F.broadcast(clf).withColumnRenamed("lang", "cand"),
            ["fold", "cand"],
            "left",
        )
        .join(F.broadcast(vf), "fold")
        .join(
            F.broadcast(cw).withColumnRenamed("lang", "cand"),
            ["cand", "word"],
            "left",
        )
        .join(
            F.broadcast(cwf).withColumnRenamed("lang", "cand"),
            ["fold", "cand", "word"],
            "left",
        )
        .groupBy("doc_id", "fold", "cand")
        .agg(
            F.sum(
                F.length(
                    F.expr(
                        "bin((c_l - coalesce(c_lf, 0) + vocab)"
                        " div (coalesce(c_wl, 0) - coalesce(c_wlf, 0) + 1))"
                    )
                )
                - 1
            )
            .cast("long")
            .alias("sum_bits")
        )
    )
    ntot = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    nf = docs.groupBy(fold.alias("fold")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_f")
    )
    scored = (
        docs.select("doc_id", fold.alias("fold"), F.col("lang").alias("true_lang"))
        .crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(ntot))
        .join(F.broadcast(nf), "fold")
        .join(
            F.broadcast(docs_lf).withColumnRenamed("lang", "cand"),
            ["fold", "cand"],
            "left",
        )
        .join(tokbits, ["doc_id", "fold", "cand"], "left")
        .filter(
            F.col("n_docs_l") - F.coalesce(F.col("n_docs_lf"), F.lit(0)) > 0
        )
        .select(
            "doc_id",
            "fold",
            "true_lang",
            "cand",
            (
                F.length(
                    F.expr(
                        "bin((n_docs - n_docs_f)"
                        " div (n_docs_l - coalesce(n_docs_lf, 0)))"
                    )
                )
                - 1
                + F.coalesce(F.col("sum_bits"), F.lit(0))
            )
            .cast("long")
            .alias("cost_bits"),
        )
    )
    scored = scored.localCheckpoint(eager=False)
    best = (
        scored.groupBy("doc_id")
        .agg(F.min("cost_bits").alias("best_bits"))
        .withColumnRenamed("doc_id", "best_doc_id")
    )
    pred = (
        scored.join(
            best,
            (F.col("doc_id") == F.col("best_doc_id"))
            & (F.col("cost_bits") == F.col("best_bits")),
        )
        .groupBy("doc_id", "fold", "true_lang")
        .agg(F.min("cand").alias("pred_lang"))
    )
    return pred.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("true_lang") == F.col("pred_lang")).cast("int"))
        .cast("long")
        .alias("n_correct"),
        F.expr(
            "1000 * sum(CASE WHEN true_lang = pred_lang THEN 1 ELSE 0 END)"
            " div count(1)"
        )
        .cast("long")
        .alias("accuracy_milli"),
    )


# ---------------------------------------------------------------------------
# Key-skew audit: the operational diagnostic behind every salting decision
# in this engine — quantify how skewed a join key's frequency distribution
# is BEFORE shuffling on it. Emits exact order statistics of the frequency
# distribution (max, p50, p99 by rank over the key-frequency table), the
# top-1 key share in milli, and the Gini coefficient in exact milli units
# via the rank-weighted closed form G = (2*sum(i*f_i) - (n+1)*sum(f)) /
# (n*sum(f)) — all integer cross-multiplication, no floats.
# ---------------------------------------------------------------------------
_SKEW_SQL = """
WITH freq AS (
  SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS f
  FROM lineitem GROUP BY l_partkey
),
ranked AS (
  SELECT f, row_number() OVER (ORDER BY f, k) AS i FROM freq
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(f) AS BIGINT) AS n_rows,
         CAST(max(f) AS BIGINT) AS max_freq,
         CAST(sum(i * f) AS BIGINT) AS iw
  FROM ranked
),
quant AS (
  SELECT
    CAST(max(CASE WHEN i * 2 <= (SELECT n_keys FROM agg) THEN f END) AS BIGINT)
      AS p50_freq,
    CAST(max(CASE WHEN i * 100 <= (SELECT n_keys FROM agg) * 99 THEN f END)
         AS BIGINT) AS p99_freq
  FROM ranked
)
SELECT a.n_keys, a.n_rows, a.max_freq, q.p50_freq, q.p99_freq,
       CAST(1000 * a.max_freq // a.n_rows AS BIGINT) AS top1_share_milli,
       CAST((1000 * (2 * a.iw - (a.n_keys + 1) * a.n_rows))
            // (a.n_keys * a.n_rows) AS BIGINT) AS gini_milli
FROM agg a CROSS JOIN quant q
"""


@register(
    "key_skew_audit",
    oracle=_SKEW_SQL,
    doc="Shuffle-planning diagnostic: exact frequency order statistics "
    "(max/p50/p99 by rank), top-1 key share, and Gini coefficient of the "
    "l_partkey join-key distribution — all integer arithmetic, the signal "
    "that decides broadcast vs salt vs plain shuffle",
    tags=("ext", "mining", "ops"),
)
def key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one keyed counting aggregation builds the frequency
    table (|keys| rows — already the reduced domain); the rank window runs
    over that table, not the data. A single-partition window over |keys|
    is the honest cost of exact order statistics — at 100 TB swap in the
    two-phase bucketed rank (epoch_global_index's device) or approximate
    quantiles; the audit's decisions only need coarse quantiles. The Gini
    closed form needs one rank-weighted sum — no pair joins."""
    from pyspark.sql import Window

    li = parallel_scan(spark, sf_dir, "lineitem")
    freq = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    w = Window.orderBy("f", "k")
    ranked = freq.select("f", F.row_number().over(w).cast("long").alias("i"))
    ranked = ranked.localCheckpoint(eager=False)  # feeds agg AND quantiles
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("f").cast("long").alias("n_rows"),
        F.max("f").cast("long").alias("max_freq"),
        F.sum(F.col("i") * F.col("f")).cast("long").alias("iw"),
    )
    quant = ranked.crossJoin(F.broadcast(agg.select("n_keys"))).agg(
        F.max(F.when(F.col("i") * 2 <= F.col("n_keys"), F.col("f")))
        .cast("long")
        .alias("p50_freq"),
        F.max(F.when(F.col("i") * 100 <= F.col("n_keys") * 99, F.col("f")))
        .cast("long")
        .alias("p99_freq"),
    )
    return agg.crossJoin(F.broadcast(quant)).select(
        "n_keys",
        "n_rows",
        "max_freq",
        "p50_freq",
        "p99_freq",
        F.expr("1000 * max_freq div n_rows").cast("long").alias("top1_share_milli"),
        F.expr(
            "(1000 * (2 * iw - (n_keys + 1) * n_rows)) div (n_keys * n_rows)"
        )
        .cast("long")
        .alias("gini_milli"),
    )


# ---------------------------------------------------------------------------
# Time-series motif search: which days look alike across (and within)
# streams — the distributed time-series similarity search shape (PAA
# dimensionality reduction -> SAX discretization as the blocking key ->
# exact verify), scaled the way the dedup family scales: candidates only
# within a bucket, never all-pairs. Days reduce to 6 four-hour PAA segment
# means (exact BIGINT milli), discretize against GLOBAL quartile
# breakpoints (learned in one pass, broadcast), and only pairs sharing the
# first 3 SAX symbols are verified with the exact 6-dim squared-L2.
# ---------------------------------------------------------------------------
_MOTIF_TOP_K = 10
_MOTIF_PREFIX = 3

_MOTIF_SQL = f"""
WITH m AS (
  SELECT event_type AS stream_name,
         86400 * CAST(floor(epoch(ts) / 86400) AS BIGINT) AS ds,
         CAST(floor(epoch(ts) / 3600) % 24 AS BIGINT) // 4 AS seg,
         CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2, 3
),
win AS (
  SELECT stream_name, ds,
         CAST(sum(CASE WHEN seg = 0 THEN x END) // 4 AS BIGINT) AS s0,
         CAST(sum(CASE WHEN seg = 1 THEN x END) // 4 AS BIGINT) AS s1,
         CAST(sum(CASE WHEN seg = 2 THEN x END) // 4 AS BIGINT) AS s2,
         CAST(sum(CASE WHEN seg = 3 THEN x END) // 4 AS BIGINT) AS s3,
         CAST(sum(CASE WHEN seg = 4 THEN x END) // 4 AS BIGINT) AS s4,
         CAST(sum(CASE WHEN seg = 5 THEN x END) // 4 AS BIGINT) AS s5
  FROM m GROUP BY stream_name, ds
  HAVING count(*) = 6
),
vals AS (
  SELECT s FROM (
    SELECT unnest([s0, s1, s2, s3, s4, s5]) AS s FROM win
  )
),
bp AS (
  SELECT quantile_disc(s, 0.25) AS q1,
         quantile_disc(s, 0.50) AS q2,
         quantile_disc(s, 0.75) AS q3
  FROM vals
),
sax AS (
  SELECT w.stream_name, w.ds, s0, s1, s2, s3, s4, s5,
         list_aggregate(list_transform([s0, s1, s2, s3, s4, s5],
           v -> CASE WHEN v <= b.q1 THEN 'a' WHEN v <= b.q2 THEN 'b'
                     WHEN v <= b.q3 THEN 'c' ELSE 'd' END), 'string_agg', '')
           AS word
  FROM win w CROSS JOIN bp b
),
cand AS (
  SELECT a.word AS word_a, b.word AS word_b,
         a.stream_name AS stream_a, a.ds AS ds_a,
         b.stream_name AS stream_b, b.ds AS ds_b,
         (a.s0 - b.s0) * (a.s0 - b.s0) + (a.s1 - b.s1) * (a.s1 - b.s1)
         + (a.s2 - b.s2) * (a.s2 - b.s2) + (a.s3 - b.s3) * (a.s3 - b.s3)
         + (a.s4 - b.s4) * (a.s4 - b.s4) + (a.s5 - b.s5) * (a.s5 - b.s5)
           AS dist2
  FROM sax a JOIN sax b
    ON substr(a.word, 1, {_MOTIF_PREFIX}) = substr(b.word, 1, {_MOTIF_PREFIX})
   AND (a.stream_name < b.stream_name
        OR (a.stream_name = b.stream_name AND a.ds < b.ds))
)
SELECT word_a, word_b, stream_a, ds_a, stream_b, ds_b,
       CAST(dist2 AS BIGINT) AS dist2,
       CAST(row_number() OVER (ORDER BY dist2, stream_a, ds_a, stream_b, ds_b)
            AS BIGINT) AS rank
FROM cand
QUALIFY rank <= {_MOTIF_TOP_K}
"""


@register(
    "ts_motif_search",
    oracle=_MOTIF_SQL,
    doc="Time-series similarity search: days reduced to 6 exact four-hour "
    "PAA segment means, SAX-discretized against learned global quartiles "
    f"(broadcast), {_MOTIF_PREFIX}-symbol-prefix bucket-mates verified "
    f"with exact integer squared-L2 — global top-{_MOTIF_TOP_K} motif pairs",
    tags=("ext", "mining", "timeseries"),
)
def ts_motif_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: PAA + SAX are two keyed aggregations (hour grid -> day
    signatures) — the data plane reduces 24x before anything joins; the
    breakpoint table is 3 scalars, broadcast. Candidate generation joins
    ONLY within a SAX prefix bucket (the LSH-bucket discipline; the prefix
    length is the precision/recall knob, and quartile coding keeps buckets
    near-uniform), never all-pairs; the exact verify is 6 integer
    multiplies per candidate. The global top-k is a TakeOrdered with
    full-column tie-breaks."""
    from pyspark.sql import Window

    events = parallel_scan(spark, sf_dir, "events")
    m = events.groupBy(
        F.col("event_type").alias("stream_name"),
        (F.lit(86400) * F.floor(F.unix_timestamp("ts") / 86400))
        .cast("long")
        .alias("ds"),
        F.expr(
            "CAST(floor(unix_timestamp(ts) / 3600) % 24 AS BIGINT) div 4"
        ).alias("seg"),
    ).agg(
        F.sum(F.floor(F.col("value") * 1000).cast("long")).cast("long").alias("x")
    )
    seg_cols = [
        F.expr(f"sum(CASE WHEN seg = {j} THEN x END) div 4")
        .cast("long")
        .alias(f"s{j}")
        for j in range(6)
    ]
    win = (
        m.groupBy("stream_name", "ds")
        .agg(F.count(F.lit(1)).alias("nseg"), *seg_cols)
        .filter(F.col("nseg") == 6)
        .drop("nseg")
    )
    win = win.localCheckpoint(eager=False)  # feeds breakpoints AND the join
    vals = win.select(
        F.explode(F.array(*[F.col(f"s{j}") for j in range(6)])).alias("s")
    )
    bp = vals.agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY s)").alias("q1"),
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY s)").alias("q2"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY s)").alias("q3"),
    )
    sym = (
        "CASE WHEN {v} <= q1 THEN 'a' WHEN {v} <= q2 THEN 'b'"
        " WHEN {v} <= q3 THEN 'c' ELSE 'd' END"
    )
    sax = win.crossJoin(F.broadcast(bp)).select(
        "stream_name",
        "ds",
        *[F.col(f"s{j}") for j in range(6)],
        F.expr(
            "concat(" + ", ".join(sym.format(v=f"s{j}") for j in range(6)) + ")"
        ).alias("word"),
    )
    a = sax.alias("a")
    b = sax.alias("b")
    dist2 = sum(
        (F.col(f"a.s{j}") - F.col(f"b.s{j}")) * (F.col(f"a.s{j}") - F.col(f"b.s{j}"))
        for j in range(6)
    )
    pair_order = (F.col("a.stream_name") < F.col("b.stream_name")) | (
        (F.col("a.stream_name") == F.col("b.stream_name"))
        & (F.col("a.ds") < F.col("b.ds"))
    )
    cand = a.join(
        b,
        (
            F.expr(f"substr(a.word, 1, {_MOTIF_PREFIX})")
            == F.expr(f"substr(b.word, 1, {_MOTIF_PREFIX})")
        )
        & pair_order,
    ).select(
        F.col("a.word").alias("word_a"),
        F.col("b.word").alias("word_b"),
        F.col("a.stream_name").alias("stream_a"),
        F.col("a.ds").alias("ds_a"),
        F.col("b.stream_name").alias("stream_b"),
        F.col("b.ds").alias("ds_b"),
        dist2.cast("long").alias("dist2"),
    )
    # Two-phase top-K (TakeOrderedAndProject): the candidate pair set is
    # corpus-scaled, so it must never be shuffled whole into one partition
    # just to be numbered — the ordering is total, so ranking only the K
    # winners is bit-identical.
    order = [F.col("dist2"), "stream_a", "ds_a", "stream_b", "ds_b"]
    w = Window.orderBy(*order)
    return (
        cand.orderBy(*order)
        .limit(_MOTIF_TOP_K)
        .withColumn("rank", F.row_number().over(w).cast("long"))
    )


# ---------------------------------------------------------------------------
# Differentially-private count release (geometric mechanism): the privacy
# stage a shared-statistics pipeline runs after PII scrubbing — integer
# counts perturbed with two-sided-geometric noise (the discrete Laplace;
# epsilon = 1, alpha = e^-1). The draw is the inverse CDF of an md5-uniform
# on the group key walked down a PRECOMPUTED integer threshold ladder (the
# bootstrap_ci_poisson device), so the mechanism is engine-identical and
# testable end to end. REPRODUCIBLE noise is for pipeline verification; a
# production release re-seeds the uniform from entropy, changing only the
# key expression.
# ---------------------------------------------------------------------------
#: floor(CDF(k) * 2^32) of the two-sided geometric, k = -8..8, alpha=e^-1.
_DP_LADDER = (
    (-8, 665818), (-7, 2475702), (-6, 7395475), (-5, 20768804),
    (-4, 57121283), (-3, 155937565), (-2, 424548068), (-1, 1154707118),
    (0, 3139485195), (1, 3869644245), (2, 4138254748), (3, 4237071030),
    (4, 4273423509), (5, 4286796838), (6, 4291716611), (7, 4293526494),
    (8, 4294192313),
)


def _dp_noise_case(u: str) -> str:
    arms = " ".join(f"WHEN {u} < {t} THEN {k}" for k, t in _DP_LADDER)
    return f"CASE {arms} ELSE 9 END"


_DP_SQL = f"""
WITH g AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY source, lang
)
SELECT source, lang,
       CAST(greatest(0, c + {_dp_noise_case("CAST(('0x' || substr(md5(source || '/' || lang), 1, 8)) AS BIGINT)")})
            AS BIGINT) AS noised_count,
       CAST(1000 AS BIGINT) AS epsilon_milli
FROM g
"""


@register(
    "dp_geometric_release",
    oracle=_DP_SQL,
    doc="Privacy release: per-(source, lang) counts perturbed with the "
    "two-sided geometric mechanism (discrete Laplace, epsilon=1) — noise "
    "drawn by walking an md5-uniform down a precomputed integer CDF "
    "ladder, clamped at zero; engine-identical and end-to-end testable",
    tags=("ext", "corpus", "privacy"),
)
def dp_geometric_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one keyed counting aggregation plus a narrow per-group
    expression — the mechanism adds zero data-plane cost at any scale.
    The noise draw is a pure function of the group key, so retries,
    repartitioning, and engine choice reproduce the identical release
    (the property that makes the privacy layer testable); swapping the
    md5 input for a run-scoped secret seed makes it a real release."""
    docs = parallel_scan(spark, sf_dir, "documents")
    g = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    u32 = (
        "CAST(conv(substr(md5(concat(source, '/', lang)), 1, 8), 16, 10)"
        " AS BIGINT)"
    )
    return g.select(
        "source",
        "lang",
        F.expr(f"greatest(0, c + {_dp_noise_case(u32)})")
        .cast("long")
        .alias("noised_count"),
        F.lit(1000).cast("long").alias("epsilon_milli"),
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift test, EXACT: did each stream's value
# distribution shift between the first and second half of the month? The
# KS statistic D = max |F1 - F2| is kept integer: with a of n1 sample-1
# values and b of n2 sample-2 values at or below a point, D at that point
# is (a*n2 - b*n1)/(n1*n2) — so max|a*n2 - b*n1| is an exact BIGINT and
# the alpha=0.05 decision D > 1.358*sqrt((n1+n2)/(n1*n2)) cross-multiplies
# to d_scaled^2 * 1e6 > 1843964 * n1 * n2 * (n1+n2), evaluated in
# DECIMAL(38,0)/HUGEINT. No ECDF floats, no sqrt.
# ---------------------------------------------------------------------------
_KS_CRIT_MICRO = 1_843_964  # (1.358)^2 * 1e6 — alpha = 0.05

_KS_SQL = f"""
WITH v AS (
  SELECT event_type AS stream_name,
         CAST(floor(value * 1000) AS BIGINT) AS x,
         CASE WHEN epoch(ts) < (SELECT (min(epoch(ts)) + max(epoch(ts))) / 2
                                FROM events) THEN 0 ELSE 1 END AS grp
  FROM events
),
n AS (
  SELECT stream_name,
         CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM v GROUP BY stream_name
),
pts AS (
  SELECT stream_name, x,
         CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM v GROUP BY stream_name, x
),
ecdf AS (
  SELECT stream_name, x,
         sum(c1) OVER w AS a,
         sum(c2) OVER w AS b
  FROM pts
  WINDOW w AS (PARTITION BY stream_name ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
d AS (
  SELECT e.stream_name, n.n1, n.n2,
         CAST(max(abs(e.a * n.n2 - e.b * n.n1)) AS BIGINT) AS d_scaled
  FROM ecdf e JOIN n ON n.stream_name = e.stream_name
  GROUP BY e.stream_name, n.n1, n.n2
)
SELECT stream_name, n1, n2, d_scaled,
       CAST((1000000 * d_scaled) // nullif(n1 * n2, 0) AS BIGINT) AS ks_micro,
       CAST(d_scaled AS HUGEINT) * CAST(d_scaled AS HUGEINT) * 1000000
         > CAST({_KS_CRIT_MICRO} AS HUGEINT) * CAST(n1 AS HUGEINT)
           * CAST(n2 AS HUGEINT) * CAST(n1 + n2 AS HUGEINT)
         AS drifted_95
FROM d
"""


@register(
    "ks_drift_test",
    oracle=_KS_SQL,
    doc="Distribution drift: exact two-sample KS test per stream (first vs "
    "second half of the window) — the statistic as max|a*n2 - b*n1| in "
    "BIGINT and the 95% decision by 128-bit cross-multiplication; no "
    "floats anywhere in the test",
    tags=("ext", "mining", "stats", "timeseries"),
)
def ks_drift_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: values pre-aggregate per (stream, milli-value) point —
    the ECDF runs over the DISTINCT value domain, not the row count; the
    cumulative window partitions by stream. The midpoint scalar
    broadcasts. The decision arithmetic is per-stream on a |streams|-row
    table. At 100 TB the value-domain compression is what keeps the
    window input bounded (the weighted_median_price argument)."""
    from pyspark.sql import Window

    events = parallel_scan(spark, sf_dir, "events")
    mid = events.agg(
        ((F.min(F.unix_timestamp("ts")) + F.max(F.unix_timestamp("ts"))) / 2).alias(
            "mid"
        )
    )
    v = events.crossJoin(F.broadcast(mid)).select(
        F.col("event_type").alias("stream_name"),
        F.floor(F.col("value") * 1000).cast("long").alias("x"),
        F.when(F.unix_timestamp("ts") < F.col("mid"), 0).otherwise(1).alias("grp"),
    )
    pts = v.groupBy("stream_name", "x").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("c2"),
    )
    n = v.groupBy("stream_name").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("n2"),
    )
    w = (
        Window.partitionBy("stream_name")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ecdf = pts.select(
        "stream_name",
        "x",
        F.sum("c1").over(w).alias("a"),
        F.sum("c2").over(w).alias("b"),
    )
    d = (
        ecdf.join(F.broadcast(n), "stream_name")
        .groupBy("stream_name", "n1", "n2")
        .agg(
            F.max(F.abs(F.col("a") * F.col("n2") - F.col("b") * F.col("n1")))
            .cast("long")
            .alias("d_scaled")
        )
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    return d.select(
        "stream_name",
        "n1",
        "n2",
        "d_scaled",
        F.expr("(1000000 * d_scaled) div nullif(n1 * n2, 0)").cast("long").alias("ks_micro"),
        F.expr(
            f"{dec.format('d_scaled')} * {dec.format('d_scaled')} * 1000000"
            f" > {_KS_CRIT_MICRO} * {dec.format('n1')} * {dec.format('n2')}"
            f" * {dec.format('n1 + n2')}"
        ).alias("drifted_95"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit: the classic fabricated-data screen — natural
# multi-scale quantities follow P(d) = log10(1 + 1/d); ledger columns that
# don't are worth a second look. Expected frequencies are precomputed
# integer micro constants; the deviation statistic is the exact L1 distance
# between observed and expected counts cross-multiplied to avoid division
# (sum |obs * 1e6 - n * exp_micro| stays in BIGINT).
# ---------------------------------------------------------------------------
#: floor(log10(1 + 1/d) * 1e6) for d = 1..9.
_BENFORD_MICRO = (301029, 176091, 124938, 96910, 79181, 66946, 57991, 51152, 45757)

_BENFORD_SQL = f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS d
  FROM orders WHERE o_totalprice > 0
),
obs AS (
  SELECT d, CAST(count(*) AS BIGINT) AS c FROM digits GROUP BY d
),
n AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM obs),
exp_t AS (
  SELECT CAST(g.range + 1 AS BIGINT) AS d,
         CAST([{", ".join(str(x) for x in _BENFORD_MICRO)}][CAST(g.range + 1 AS INT)]
              AS BIGINT) AS exp_micro
  FROM range(0, 9) g
)
SELECT e.d,
       COALESCE(o.c, 0) AS observed,
       e.exp_micro AS expected_micro,
       CAST(1000000 * COALESCE(o.c, 0) // n.total AS BIGINT) AS observed_micro,
       CAST(abs(COALESCE(o.c, 0) * 1000000 - n.total * e.exp_micro) AS BIGINT)
         AS dev_scaled
FROM exp_t e
LEFT JOIN obs o ON o.d = e.d
CROSS JOIN n
"""


@register(
    "benford_audit",
    oracle=_BENFORD_SQL,
    doc="Data-quality screen: first-digit (Benford) distribution of order "
    "totals vs log10(1+1/d) expectations — observed shares and deviations "
    "in exact integer micro units, division-free per-digit deviation",
    tags=("ext", "mining", "quality"),
)
def benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one narrow first-digit projection (string head of the
    integer cents — no float log in the data path), one 9-key counting
    aggregation, and a broadcast of the constant expectation table. The
    audit costs a scan at any scale."""
    orders = parallel_scan(spark, sf_dir, "orders")
    digits = orders.filter(F.col("o_totalprice") > 0).select(
        F.expr(
            "CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)"
            " AS STRING), 1, 1) AS BIGINT)"
        ).alias("d")
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("c"))
    n = obs.agg(F.sum("c").cast("long").alias("total"))
    exp_rows = ", ".join(
        f"({d + 1}L, {x}L)" for d, x in enumerate(_BENFORD_MICRO)
    )
    exp_t = spark.sql(
        f"SELECT d, exp_micro FROM VALUES {exp_rows} AS t(d, exp_micro)"
    )
    # Broadcast the OBSERVED side: a left-outer join cannot build its left
    # (preserved) side, so a broadcast hint there is silently ignored and
    # the join degrades to a shuffle — obs is the <= 9-row digit rollup,
    # the legal and correct side to ship.
    return (
        exp_t.join(F.broadcast(obs), "d", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "d",
            F.coalesce("c", F.lit(0)).cast("long").alias("observed"),
            F.col("exp_micro").cast("long").alias("expected_micro"),
            F.expr("1000000 * coalesce(c, 0) div total")
            .cast("long")
            .alias("observed_micro"),
            F.abs(
                F.coalesce("c", F.lit(0)) * F.lit(1000000)
                - F.col("total") * F.col("exp_micro")
            )
            .cast("long")
            .alias("dev_scaled"),
        )
    )


# ---------------------------------------------------------------------------
# Sampled join-cardinality estimation: the CBO input key_skew_audit doesn't
# give — how big would the lineitem-lineitem
# self-join on partkey be (the worst case a planner must anticipate)? The
# exact answer is sum over keys of freq^2; the estimator computes that sum
# on a deterministic 1/16 KEY-sample (md5 bucket of the key — key-sampling
# keeps whole frequency groups, which is what makes the frequency-moment
# estimate unbiased where row-sampling is not) and scales by 16. Output compares
# estimate vs exact with the relative error in milli.
# ---------------------------------------------------------------------------
_JCE_BUCKETS = 16

_JCE_SQL = f"""
WITH fa AS (
  SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY l_partkey
),
exact AS (
  SELECT CAST(sum(c * c) AS BIGINT) AS join_size FROM fa
),
est AS (
  SELECT CAST({_JCE_BUCKETS} * sum(c * c) AS BIGINT) AS join_size_est
  FROM fa
  WHERE CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8)) AS BIGINT)
        % {_JCE_BUCKETS} = 0
)
SELECT e.join_size, s.join_size_est,
       CAST(abs(s.join_size_est - e.join_size) * 1000 // e.join_size AS BIGINT)
         AS rel_err_milli
FROM exact e CROSS JOIN est s
"""


@register(
    "join_cardinality_estimate",
    oracle=_JCE_SQL,
    doc=f"CBO input: self-join-size estimation by deterministic "
    f"1/{_JCE_BUCKETS} KEY-sampling (md5 bucket keeps whole frequency "
    "groups, so the second-frequency-moment estimate is unbiased where "
    "row-sampling is not), compared against the exact sum of squares",
    tags=("ext", "mining", "ops"),
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: both frequency tables are keyed aggregations onto the
    reduced key domain; the estimator's sampled join touches 1/16 of that
    domain (the filter is a pure key function, pushed below the join).
    The exact twin exists here to measure the estimator; production uses
    only the sampled leg — the point is that join-size estimation costs a
    key-domain join, not a data join."""
    li = parallel_scan(spark, sf_dir, "lineitem")
    fa = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("ca")
    )
    fa = fa.localCheckpoint(eager=False)  # exact AND sampled legs
    exact = fa.agg(
        F.sum(F.col("ca") * F.col("ca")).cast("long").alias("join_size")
    )
    est = fa.filter(
        F.expr(
            f"CAST(conv(substr(md5(CAST(k AS STRING)), 1, 8), 16, 10) AS BIGINT)"
            f" % {_JCE_BUCKETS} = 0"
        )
    ).agg(
        (F.lit(_JCE_BUCKETS) * F.sum(F.col("ca") * F.col("ca")))
        .cast("long")
        .alias("join_size_est")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "join_size",
        "join_size_est",
        F.expr("abs(join_size_est - join_size) * 1000 div join_size")
        .cast("long")
        .alias("rel_err_milli"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend: the median of pairwise slopes — insensitive to
# outlier days that drag OLS around. Days index x in 0..29, so the pair set
# is C(days, 2) per stream (bounded by the WINDOW, not the data volume);
# slopes are floored to integer micro-units per day, making the median an
# exact integer order statistic. OLS from the same daily series (exact
# moment sums, the grouped_linear_fit device) rides along for contrast.
# ---------------------------------------------------------------------------
_TS_SQL = """
WITH daily AS (
  SELECT event_type AS stream_name,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT stream_name, day, y,
         CAST(row_number() OVER (PARTITION BY stream_name ORDER BY day) - 1
              AS BIGINT) AS xi
  FROM daily
),
slopes AS (
  SELECT a.stream_name,
         CAST((1000000 * (b.y - a.y)) // (b.xi - a.xi) AS BIGINT) AS s
  FROM idx a JOIN idx b
    ON b.stream_name = a.stream_name AND b.xi > a.xi
),
ts AS (
  SELECT stream_name,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(quantile_disc(s, 0.5) AS BIGINT) AS theil_sen_micro
  FROM slopes GROUP BY stream_name
),
mom AS (
  SELECT stream_name,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(xi) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(xi * xi) AS BIGINT) AS sxx,
         CAST(sum(xi * y) AS BIGINT) AS sxy
  FROM idx GROUP BY stream_name
),
ols AS (
  SELECT stream_name,
         CAST((1000000 * (n * sxy - sx * sy))
              // nullif(n * sxx - sx * sx, 0) AS BIGINT) AS ols_micro
  FROM mom
)
SELECT t.stream_name, t.n_pairs, t.theil_sen_micro, o.ols_micro
FROM ts t JOIN ols o ON o.stream_name = t.stream_name
"""


@register(
    "theil_sen_trend",
    oracle=_TS_SQL,
    doc="Robust trend estimation: Theil-Sen slope (exact integer median of "
    "C(days,2) pairwise micro-slopes per stream) next to the OLS slope "
    "from exact moment sums — the outlier-resistant daily-trend reading",
    tags=("ext", "mining", "stats", "timeseries"),
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the daily rollup reduces the data plane to
    |streams| x |days| BEFORE any pairing; the pair join is bounded by the
    day window squared per stream (C(30,2) = 435 here — a constant, not a
    data-sized blowup), shuffling on the stream key. The slope median is
    an exact discrete percentile over that bounded set; OLS needs only
    moment sums. Day indices come from a per-stream rank so gaps in the
    calendar don't skew the x spacing... they DO compress it — which is
    the standard index-based Theil-Sen convention and keeps x bounded."""
    from pyspark.sql import Window

    events = parallel_scan(spark, sf_dir, "events")
    daily = events.groupBy(
        F.col("event_type").alias("stream_name"),
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    ).agg(
        F.sum(F.floor(F.col("value") * 1000).cast("long")).cast("long").alias("y")
    )
    w = Window.partitionBy("stream_name").orderBy("day")
    idx = daily.select(
        "stream_name",
        "y",
        (F.row_number().over(w) - 1).cast("long").alias("xi"),
    )
    idx = idx.localCheckpoint(eager=False)  # pair join probe+build AND moments
    a = idx.alias("a")
    b = idx.alias("b")
    slopes = a.join(
        b,
        (F.col("a.stream_name") == F.col("b.stream_name"))
        & (F.col("b.xi") > F.col("a.xi")),
    ).select(
        F.col("a.stream_name").alias("stream_name"),
        F.expr("(1000000 * (b.y - a.y)) div (b.xi - a.xi)").cast("long").alias("s"),
    )
    ts = slopes.groupBy("stream_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY s)")
        .cast("long")
        .alias("theil_sen_micro"),
    )
    mom = idx.groupBy("stream_name").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xi").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("xi") * F.col("xi")).cast("long").alias("sxx"),
        F.sum(F.col("xi") * F.col("y")).cast("long").alias("sxy"),
    )
    ols = mom.select(
        "stream_name",
        F.expr(
            "(1000000 * (n * sxy - sx * sy)) div nullif(n * sxx - sx * sx, 0)"
        )
        .cast("long")
        .alias("ols_micro"),
    )
    return ts.join(ols, "stream_name")


# ---------------------------------------------------------------------------
# BM25 ranking with FIXED-POINT logarithms: the last IR scorer the text
# stack lacked (tf-idf ranks by raw counts; BM25 saturates tf and
# length-normalizes). Floats would hash-diverge on ln(), so log2 is
# computed in milli-bits from pure integers: floor-log2 from the bit length
# plus a 16-entry mantissa lookup (resolution ~0.09 bits — far finer than
# BM25's ranking granularity needs). All tf/length factors are integer
# milli arithmetic; identical expressions run in both engines.
# ---------------------------------------------------------------------------
#: round(1000 * log2(1 + m/16)) for the top-4 mantissa bits.
_LOG2_LUT = (0, 87, 170, 248, 322, 392, 459, 524, 585, 644, 700, 755, 807, 858, 907, 954)
_BM25_K1_MILLI = 1200
_BM25_B_MILLI = 750
_BM25_TOP_K = 10


def _log2_milli(x: str, bits_fn: str, shift_fn: str) -> str:
    """Fixed-point log2(x) in milli-bits for a positive integer expr.

    ``bits = len(bin(x)) - 1`` (floor log2); the mantissa's top 4 bits are
    ``(x * 16) >> bits - 16`` — the multiply-first form works for ANY
    positive x (a conditional right-shift breaks below 32). ``bits_fn`` /
    ``shift_fn`` adapt the bit-length and shift idioms per engine.
    """
    bits = bits_fn.format(x=x)
    mant = f"({shift_fn.format(x=x, b=bits)}) - 16"
    lut = "".join(
        f" WHEN {m} THEN {v}" for m, v in enumerate(_LOG2_LUT)
    )
    return f"(1000 * ({bits}) + CASE ({mant}){lut} ELSE 0 END)"


_SPARK_BITS = "length(bin({x})) - 1"
_SPARK_SHIFT = "shiftright(({x}) * 16, length(bin({x})) - 1)"
_DUCK_BITS = "length(bin({x})) - 1"
_DUCK_SHIFT = "((CAST(({x}) AS BIGINT) * 16) >> (length(bin({x})) - 1))"

#: Query terms: the terms with document-frequency ranks 10-12 (mid-frequency
#: — discriminative but present in many docs), deterministic tie-breaks.
_BM25_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_DUCK_TOK}) AS term FROM documents
),
dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dlen FROM tok GROUP BY doc_id
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dlen) AS BIGINT) AS total_len
  FROM dl
),
df AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS dfreq
  FROM tok GROUP BY term
),
qterms AS (
  SELECT term, dfreq FROM (
    SELECT term, dfreq,
           row_number() OVER (ORDER BY dfreq DESC, term) AS r
    FROM df
  ) WHERE r BETWEEN 10 AND 12
),
tf AS (
  SELECT t.doc_id, t.term, CAST(count(*) AS BIGINT) AS f
  FROM tok t JOIN qterms q ON q.term = t.term
  GROUP BY t.doc_id, t.term
),
scored AS (
  SELECT tf.doc_id, tf.term,
         {_log2_milli("((1000000 * (2 * s.n_docs - 2 * q.dfreq + 1)) // (2 * q.dfreq + 1))", _DUCK_BITS, _DUCK_SHIFT)}
           - {_log2_milli("1000000", _DUCK_BITS, _DUCK_SHIFT)} AS idf_milli,
         (1000 * tf.f * ({_BM25_K1_MILLI} + 1000))
           // (1000 * tf.f + {_BM25_K1_MILLI} * ((1000 - {_BM25_B_MILLI})
               + (({_BM25_B_MILLI} * d.dlen * s.n_docs) // s.total_len)) // 1000)
           AS tf_milli
  FROM tf
  JOIN dl d ON d.doc_id = tf.doc_id
  JOIN qterms q ON q.term = tf.term
  CROSS JOIN stats s
)
SELECT doc_id,
       CAST(sum(idf_milli * tf_milli) AS BIGINT) AS bm25_microish,
       CAST(count(*) AS BIGINT) AS n_terms_hit,
       CAST(row_number() OVER (ORDER BY sum(idf_milli * tf_milli) DESC, doc_id)
            AS BIGINT) AS rank
FROM scored
GROUP BY doc_id
QUALIFY rank <= {_BM25_TOP_K}
"""


@register(
    "bm25_topk",
    oracle=_BM25_SQL,
    doc=f"IR ranking: BM25 (k1=1.2, b=0.75) over the 3 mid-frequency query "
    "terms with FIXED-POINT milli-bit logarithms (bit length + 16-entry "
    f"mantissa LUT) — engine-exact integers end to end, top-{_BM25_TOP_K}",
    tags=("ext", "corpus", "search"),
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: doc lengths and document frequencies are keyed
    aggregations; the query-term table (3 rows) BROADCASTS into the tf
    pass, so only matching postings ever materialize (|docs with a query
    term| rows, not the corpus); scoring is narrow integer arithmetic and
    the top-k is a TakeOrdered. The fixed-point log2 device (floor-log2 +
    mantissa LUT) is what makes a float-free BM25 possible — resolution
    ~0.09 bits, well under the gaps BM25 ranking cares about."""
    from pyspark.sql import Window

    docs = parallel_scan(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.expr(_SPARK_TOK)).alias("term"))
    tok = tok.localCheckpoint(eager=False)  # dl, df, AND tf passes
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dlen"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dlen").cast("long").alias("total_len"),
    )
    df = tok.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("dfreq")
    )
    # Rank range [10, 12] over the corpus-scaled vocabulary: take the top
    # 12 distributed (TakeOrderedAndProject), then number that bounded set
    # — the (dfreq, term) ordering is total, so this is bit-identical to
    # row_number'ing the whole vocabulary in one partition.
    w = Window.orderBy(F.desc("dfreq"), "term")
    qterms = (
        df.orderBy(F.desc("dfreq"), "term")
        .limit(12)
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") >= 10)
        .select("term", "dfreq")
    )
    tf = (
        tok.join(F.broadcast(qterms.select("term")), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    idf_arg = "((1000000 * (2 * n_docs - 2 * dfreq + 1)) div (2 * dfreq + 1))"
    idf_expr = (
        _log2_milli(idf_arg, _SPARK_BITS, _SPARK_SHIFT)
        + " - "
        + _log2_milli("1000000", _SPARK_BITS, _SPARK_SHIFT)
    )
    tf_expr = (
        f"(1000 * f * ({_BM25_K1_MILLI} + 1000))"
        f" div (1000 * f + {_BM25_K1_MILLI} * ((1000 - {_BM25_B_MILLI})"
        f" + (({_BM25_B_MILLI} * dlen * n_docs) div total_len)) div 1000)"
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(idf_expr).alias("idf_milli"),
            F.expr(tf_expr).alias("tf_milli"),
        )
    )
    # Same two-phase top-K as qterms: the scored doc set (every doc hitting
    # a query term) is corpus-scaled; TakeOrderedAndProject keeps the
    # ranking distributed and the total (score, doc_id) order makes
    # numbering the K winners bit-identical.
    w_rank = Window.orderBy(F.desc("bm25_microish"), "doc_id")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum(F.col("idf_milli") * F.col("tf_milli"))
            .cast("long")
            .alias("bm25_microish"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
        .orderBy(F.desc("bm25_microish"), "doc_id")
        .limit(_BM25_TOP_K)
        .withColumn("rank", F.row_number().over(w_rank).cast("long"))
    )


# ---------------------------------------------------------------------------
# Per-source unigram entropy: the information-density read on each corpus
# slice (low entropy = repetitive/templated text; the signal behind
# "compression ratio" quality filters). H = sum_w (c_w / N) * log2(N / c_w)
# computed with the fixed-point milli-bit log2 (the BM25 primitive), so the
# whole statistic is exact integer arithmetic: entropy_milli_bits =
# sum(c_w * log2_milli(N_w_scaled / c_w)) div N. Type-token ratio rides
# along as the lexical-diversity companion.
# ---------------------------------------------------------------------------
_ENTROPY_SQL = f"""
WITH tok AS (
  SELECT source, unnest({_DUCK_TOK}) AS word FROM documents
),
cw AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY source, word
),
n AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS vocab
  FROM cw GROUP BY source
)
SELECT cw.source,
       n.total AS n_tokens,
       n.vocab AS n_types,
       CAST(1000 * n.vocab // n.total AS BIGINT) AS type_token_milli,
       CAST(sum(cw.c * ({_log2_milli("((1000000 * n.total) // cw.c)", _DUCK_BITS, _DUCK_SHIFT)}
                        - {_log2_milli("1000000", _DUCK_BITS, _DUCK_SHIFT)}))
            // n.total AS BIGINT) AS entropy_milli_bits
FROM cw JOIN n ON n.source = cw.source
GROUP BY cw.source, n.total, n.vocab
"""


@register(
    "source_entropy_stats",
    oracle=_ENTROPY_SQL,
    doc="Corpus information density: per-source unigram entropy in exact "
    "milli-bits per token (fixed-point log2 — the BM25 primitive) plus "
    "type-token ratio; the repetitive/templated-text detector",
    tags=("ext", "corpus", "quality", "stats"),
)
def source_entropy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one (source, word)-keyed counting aggregation (uniform
    compound key — per-source hot words don't concentrate because the key
    includes the word), one |sources|-row totals table joined back
    BROADCAST, and a narrow integer scoring pass. No floats: entropy in
    milli-bits comes from the bit-length + mantissa-LUT log2, so any
    engine, layout, or retry reproduces the identical number."""
    docs = parallel_scan(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.expr(_SPARK_TOK)).alias("word"))
    cw = tok.groupBy("source", "word").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cw = cw.localCheckpoint(eager=False)  # feeds totals AND scoring
    n = cw.groupBy("source").agg(
        F.sum("c").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    bits = (
        _log2_milli("((1000000 * total) div c)", _SPARK_BITS, _SPARK_SHIFT)
        + " - "
        + _log2_milli("1000000", _SPARK_BITS, _SPARK_SHIFT)
    )
    return (
        cw.join(F.broadcast(n), "source")
        .groupBy("source", "total", "vocab")
        .agg(
            F.expr(f"sum(c * ({bits})) div total")
            .cast("long")
            .alias("entropy_milli_bits")
        )
        .select(
            "source",
            F.col("total").alias("n_tokens"),
            F.col("vocab").alias("n_types"),
            F.expr("1000 * vocab div total").cast("long").alias("type_token_milli"),
            "entropy_milli_bits",
        )
    )


# ---------------------------------------------------------------------------
# WordPiece-style greedy segmentation: the APPLY side of the other major
# subword tokenizer family (BPE above merges pairs bottom-up at train time;
# WordPiece segments top-down at apply time with greedy longest-match
# against a vocabulary, continuation pieces marked '##'). The vocabulary
# here is data-derived with the same corpus statistics both engines see:
# every substring up to _WP_MAXLEN chars whose occurrence weight clears a
# relative threshold, kept separately for word-initial and continuation
# positions, plus all single characters so segmentation never fails.
# Everything runs on the word TYPE table (Heaps-bound), exactly like BPE.
# ---------------------------------------------------------------------------
_WP_MAXLEN = 8  # longest vocabulary piece in characters
_WP_REL_PPK = 40  # keep a piece iff 1000 * weight >= 40 * total tokens
_WP_MAXSTEPS = 24  # loud-fail walk budget (best >= 1 char per step)

_WORDPIECE_SQL = f"""
WITH RECURSIVE tok AS (
  SELECT unnest({_DUCK_TOK}) AS word FROM documents
),
types AS (
  SELECT word, CAST(count(*) AS BIGINT) AS n, length(word) AS wlen
  FROM tok GROUP BY word
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM types),
cand AS (
  SELECT t.word, t.n, t.wlen,
         CAST(p.range AS BIGINT) AS pos, CAST(l.range AS BIGINT) AS len,
         substr(t.word, CAST(p.range AS INT), CAST(l.range AS INT)) AS sub,
         p.range = 1 AS init
  FROM types t, range(1, {_WP_MAXLEN + 1} + 0) l,
       range(1, 1 + {_WP_MAXSTEPS} * {_WP_MAXLEN}) p
  WHERE p.range <= t.wlen AND p.range + l.range - 1 <= t.wlen
),
vocab AS (
  SELECT sub, init
  FROM cand, tot
  GROUP BY sub, init, total
  HAVING 1000 * sum(n) >= {_WP_REL_PPK} * total OR length(sub) = 1
),
best AS (
  SELECT c.word, c.pos, CAST(max(c.len) AS BIGINT) AS best_len
  FROM cand c JOIN vocab v ON c.sub = v.sub AND c.init = v.init
  GROUP BY c.word, c.pos
),
walk AS (
  SELECT word, n, wlen, CAST(1 AS BIGINT) AS pos,
         CAST(0 AS BIGINT) AS n_pieces, '' AS wordpiece
  FROM types
  UNION ALL
  SELECT w.word, w.n, w.wlen, w.pos + b.best_len, w.n_pieces + 1,
         CASE WHEN w.pos = 1
              THEN substr(w.word, 1, CAST(b.best_len AS INT))
              ELSE w.wordpiece || ' ##'
                   || substr(w.word, CAST(w.pos AS INT), CAST(b.best_len AS INT))
         END
  FROM walk w JOIN best b ON b.word = w.word AND b.pos = w.pos
  WHERE w.pos <= w.wlen
)
SELECT word, n AS n_occurrences, n_pieces, wordpiece
FROM walk WHERE pos > wlen
"""


@register(
    "wordpiece_segment",
    oracle=_WORDPIECE_SQL,
    doc="Tokenizer apply: WordPiece-style greedy longest-match segmentation "
    "of every corpus word type against a data-derived subword vocabulary "
    "(relative-frequency threshold, word-initial vs '##'-continuation "
    "flavors, single-char fallback) — the top-down counterpart of the "
    "bottom-up BPE pair above, per-type piece counts and segmentations",
    tags=("ext", "mining", "tokenize"),
)
def wordpiece_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the only corpus-scale stage is the token explode into a
    map-side-combined ``groupBy word`` — everything after runs on the word
    TYPE table (Heaps' law: types grow ~sqrt of corpus), with vocabulary
    and best-piece relations broadcast into the greedy walk. The walk
    itself is {_WP_MAXSTEPS} bounded join steps (greedy advances >= 1 char
    per step) with a loud ``raise_error`` if any word exhausts the budget,
    matching the repo's bom_cost_rollup stance (the DuckDB recursive twin
    is unbounded — silent truncation would diverge, so Spark fails loud
    instead)."""
    docs = parallel_scan(spark, sf_dir, "documents")
    types = (
        docs.select(F.explode(F.expr(_SPARK_TOK)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select("word", "n", F.length("word").cast("long").alias("wlen"))
        .localCheckpoint(eager=False)  # feeds cand, tot AND the walk seed
    )
    tot = types.agg(F.sum("n").cast("long").alias("total"))
    cand = types.select(
        "word",
        "n",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, cast(wlen as int)), p ->"
                f" transform(sequence(1, least({_WP_MAXLEN}, cast(wlen as int) - p + 1)),"
                f" l -> struct(cast(p as bigint) as pos, cast(l as bigint) as len,"
                f" substr(word, p, l) as sub, p = 1 as init))))"
            )
        ).alias("c"),
    ).select("word", "n", "c.*")
    cand = cand.localCheckpoint(eager=False)  # feeds vocab AND best
    vocab = (
        cand.groupBy("sub", "init")
        .agg(F.sum("n").cast("long").alias("weight"))
        .crossJoin(F.broadcast(tot))
        .filter(
            (1000 * F.col("weight") >= _WP_REL_PPK * F.col("total"))
            | (F.length("sub") == 1)
        )
        .select("sub", "init")
    )
    best = (
        cand.join(F.broadcast(vocab), ["sub", "init"])
        .groupBy("word", "pos")
        .agg(F.max("len").cast("long").alias("best_len"))
    )
    best = F.broadcast(best.localCheckpoint(eager=False))  # joined every step
    state = types.select(
        "word",
        "n",
        "wlen",
        F.lit(1).cast("long").alias("pos"),
        F.lit(0).cast("long").alias("n_pieces"),
        F.lit("").alias("wordpiece"),
    )
    for _ in range(_WP_MAXSTEPS):
        adv = F.col("pos") <= F.col("wlen")
        piece = F.expr("substr(word, cast(pos as int), cast(best_len as int))")
        state = (
            state.join(best, ["word", "pos"], "left")
            .select(
                "word",
                "n",
                "wlen",
                F.when(adv, F.col("pos") + F.col("best_len"))
                .otherwise(F.col("pos"))
                .alias("pos"),
                F.when(adv, F.col("n_pieces") + 1)
                .otherwise(F.col("n_pieces"))
                .alias("n_pieces"),
                F.when(
                    adv & (F.col("pos") == 1), piece
                )
                .when(adv, F.concat("wordpiece", F.lit(" ##"), piece))
                .otherwise(F.col("wordpiece"))
                .alias("wordpiece"),
            )
        )
    return state.select(
        "word",
        F.col("n").alias("n_occurrences"),
        F.when(
            F.col("pos") <= F.col("wlen"),
            F.raise_error(
                F.lit(
                    f"wordpiece walk exceeded {_WP_MAXSTEPS} steps — "
                    "raise _WP_MAXSTEPS for this corpus"
                )
            ).cast("long"),
        )
        .otherwise(F.col("n_pieces"))
        .alias("n_pieces"),
        "wordpiece",
    )


# ---------------------------------------------------------------------------
# Classifier margin calibration: a classifier that says "A beats B by one
# bit" should be wrong more often than one that says "by a hundred bits" —
# the reliability curve every deployed filter (quality gates, lang-ID
# routing, source attribution) needs before its scores are used as
# thresholds. Integer surprisal costs make the margin exact: margin =
# second-best cost minus best cost in bits (0 on ties), binned in fixed
# 16-bit-wide buckets with per-bucket accuracy.
# ---------------------------------------------------------------------------
_NBCAL_BIN_BITS = 16
_NBCAL_MAX_BIN = 7  # margins >= 7*16 bits share the top bucket

# Shared CTE prefix: per-doc (correct, margin-bin) — consumed by the
# reliability rollup below AND the isotonic fit on top of it.
_NB_MARGIN_CTES = (
    _NB_SCORED_CTES
    + f""",
best AS (
  SELECT doc_id, min(cost_bits) AS best_bits FROM scored GROUP BY doc_id
),
pred AS (
  SELECT s.doc_id, s.true_lang, min(s.cand) AS pred_lang
  FROM scored s JOIN best b
    ON b.doc_id = s.doc_id AND s.cost_bits = b.best_bits
  GROUP BY s.doc_id, s.true_lang
),
second AS (
  SELECT s.doc_id, min(s.cost_bits) AS second_bits
  FROM scored s JOIN best b
    ON b.doc_id = s.doc_id AND s.cost_bits > b.best_bits
  GROUP BY s.doc_id
),
m AS (
  SELECT p.doc_id,
         p.pred_lang = p.true_lang AS correct,
         least(COALESCE(sec.second_bits - b.best_bits, 0)
                 // {_NBCAL_BIN_BITS}, {_NBCAL_MAX_BIN}) AS bin
  FROM pred p
  JOIN best b ON b.doc_id = p.doc_id
  LEFT JOIN second sec ON sec.doc_id = p.doc_id
)"""
)

_NB_CALIB_SQL = (
    _NB_MARGIN_CTES
    + f"""
SELECT CAST(bin AS BIGINT) AS margin_bin,
       CAST(bin * {_NBCAL_BIN_BITS} AS BIGINT) AS margin_lo_bits,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(1000000 * sum(CASE WHEN correct THEN 1 ELSE 0 END) // count(*)
            AS BIGINT) AS accuracy_ppm
FROM m GROUP BY bin
"""
)


@register(
    "nb_margin_calibration",
    oracle=_NB_CALIB_SQL,
    doc="Classifier reliability: Naive-Bayes decision margins (second-best "
    "minus best integer surprisal cost, exact bits) binned in fixed 16-bit "
    "buckets with per-bucket accuracy ppm — the calibration curve that "
    "turns a filter's scores into usable thresholds",
    tags=("ext", "mining", "ml"),
)
def nb_margin_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: identical to the classifier up to the shared
    per-(doc, class) cost relation (`_nb_scored`); best/second/margin are
    keyed aggregations on doc_id (class dimension bounded), and the final
    rollup has at most {_NBCAL_MAX_BIN}+1 rows. No windows, no sorts."""
    scored = _nb_scored(spark, sf_dir)
    best = scored.groupBy("doc_id").agg(F.min("cost_bits").alias("best_bits"))
    best = F.broadcast(best.localCheckpoint(eager=False))  # pred AND second legs
    pred = (
        scored.join(
            best,
            (scored["doc_id"] == best["doc_id"])
            & (F.col("cost_bits") == F.col("best_bits")),
        )
        .drop(best["doc_id"])
        .groupBy("doc_id", "true_lang")
        .agg(F.min("cand").alias("pred_lang"))
    )
    second = (
        scored.join(
            best,
            (scored["doc_id"] == best["doc_id"])
            & (F.col("cost_bits") > F.col("best_bits")),
        )
        .drop(best["doc_id"])
        .groupBy("doc_id")
        .agg(F.min("cost_bits").alias("second_bits"))
    )
    m = (
        pred.join(best, "doc_id")
        .join(second, "doc_id", "left")
        .select(
            (F.col("pred_lang") == F.col("true_lang")).alias("correct"),
            F.least(
                F.expr(
                    f"coalesce(second_bits - best_bits, 0) div {_NBCAL_BIN_BITS}"
                ),
                F.lit(_NBCAL_MAX_BIN),
            ).alias("bin"),
        )
    )
    return m.groupBy("bin").agg(
        F.col("bin").cast("long").alias("margin_bin"),
        (F.col("bin") * _NBCAL_BIN_BITS).cast("long").alias("margin_lo_bits"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("correct").cast("int")).cast("long").alias("n_correct"),
        F.expr(
            "CAST(1000000 * sum(CAST(correct AS INT)) div count(1) AS BIGINT)"
        ).alias("accuracy_ppm"),
    ).drop("bin")


# ---------------------------------------------------------------------------
# Exact AUC (Mann-Whitney rank-sum) per group: the threshold-free answer to
# "does this quality score actually separate the classes?" — the curation
# gate's own report card. Tie-aware average ranks are kept integer by the
# 2x-scaling device (average rank of a tie group spanning (c, c+g] is
# (2c+g+1)/2, so TWICE the rank-sum is the integer sum p*(2c+g+1)); the
# score itself is integer micro-TTR so tie groups are well-defined and
# engine-identical. AUC = (R - n_pos(n_pos+1)/2) / (n_pos*n_neg), emitted
# in exact ppm; DECIMAL(38)/HUGEINT rank sums so n^2-sized products never
# wrap.
# ---------------------------------------------------------------------------
_AUC_SQL = f"""
WITH base AS (
  SELECT source,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
         CAST(1000000 * len(list_distinct({_DUCK_TOK}))
              // len({_DUCK_TOK}) AS BIGINT) AS score
  FROM documents
  WHERE len({_DUCK_TOK}) > 0
),
grp AS (
  SELECT source, score, CAST(count(*) AS BIGINT) AS g,
         CAST(sum(pos) AS BIGINT) AS p
  FROM base GROUP BY source, score
),
cum AS (
  SELECT source, score, g, p,
         CAST(COALESCE(sum(g) OVER (PARTITION BY source ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS c
  FROM grp
),
agg AS (
  SELECT source,
         CAST(sum(g) AS BIGINT) AS n,
         CAST(sum(p) AS BIGINT) AS n_pos,
         sum(CAST(p AS HUGEINT) * (2 * c + g + 1)) AS r2
  FROM cum GROUP BY source
)
SELECT source, n, n_pos, n - n_pos AS n_neg,
       CASE WHEN n_pos = 0 OR n = n_pos THEN CAST(NULL AS BIGINT)
            ELSE CAST(1000000 * (r2 - CAST(n_pos AS HUGEINT) * (n_pos + 1))
                      // (2 * CAST(n_pos AS HUGEINT) * (n - n_pos)) AS BIGINT)
       END AS auc_ppm
FROM agg
"""


@register(
    "auc_rank_exact",
    oracle=_AUC_SQL,
    doc="Exact tie-aware Mann-Whitney AUC per source of the micro-TTR "
    "quality score discriminating lang='en' — 2x-scaled integer rank sums "
    "over tie groups (never a float rank), DECIMAL(38)/HUGEINT products, "
    "exact ppm output with NULL for degenerate single-class groups; the "
    "threshold-free report card of a curation gate",
    tags=("ext", "mining", "quality"),
)
def auc_rank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one narrow projection (integer score + label — text
    never shuffles), one (source, score)-keyed counting aggregation whose
    output is tie-group-sized (bounded by the 1e6 score space per source),
    a per-source cumulative window over THOSE groups (partition-local, no
    global sort), and a final per-source fold. The n^2-sized rank products
    live in DECIMAL(38,0)."""
    from pyspark.sql import Window

    docs = parallel_scan(spark, sf_dir, "documents")
    tok = f"regexp_extract_all(lower(text), '{TOKEN_RE}', 0)"
    base = docs.select(
        "source",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        F.expr(
            f"CAST(1000000 * size(array_distinct({tok})) div size({tok})"
            " AS BIGINT)"
        ).alias("score"),
    ).filter(F.expr(f"size({tok}) > 0"))
    grp = base.groupBy("source", "score").agg(
        F.count(F.lit(1)).cast("long").alias("g"),
        F.sum("pos").cast("long").alias("p"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = grp.withColumn(
        "c", F.coalesce(F.sum("g").over(w), F.lit(0)).cast("long")
    )
    dec = "DECIMAL(38,0)"
    agg = cum.groupBy("source").agg(
        F.sum("g").cast("long").alias("n"),
        F.sum("p").cast("long").alias("n_pos"),
        F.sum(F.expr(f"CAST(p AS {dec}) * (2 * c + g + 1)")).alias("r2"),
    )
    return agg.select(
        "source",
        "n",
        "n_pos",
        (F.col("n") - F.col("n_pos")).cast("long").alias("n_neg"),
        F.when(
            (F.col("n_pos") == 0) | (F.col("n") == F.col("n_pos")),
            F.lit(None).cast("long"),
        )
        .otherwise(
            F.expr(
                f"CAST(1000000 * (r2 - CAST(n_pos AS {dec}) * (n_pos + 1))"
                f" div (2 * CAST(n_pos AS {dec}) * (n - n_pos)) AS BIGINT)"
            )
        )
        .alias("auc_ppm"),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility fairness: the per-LANGUAGE audit of the learned BPE —
# fertility (subword tokens per word) decides how much context window and
# compute each language pays per unit of text, and a vocab learned on a
# skewed mix quietly taxes the minority languages. Per lang: exact milli
# fertility, chars-per-token, the ratio to the best (lowest-fertility)
# language in ppm, and the >1.5x unfairness flag via the cross-multiplied
# integer test 2*fert > 3*min_fert (never a float ratio).
# ---------------------------------------------------------------------------
_FERT_SQL = (
    _BPE_CHAIN_SQL
    + f""",
seg AS (
  SELECT word,
         CAST(len(list_filter(string_split(w, '||'), s -> s <> '')) AS BIGINT)
           AS n_sym
  FROM vocab_{_BPE_ROUNDS}
),
occ AS (
  SELECT lang, unnest({_DUCK_TOK}) AS word FROM documents
),
cnt AS (
  SELECT lang, word, CAST(count(*) AS BIGINT) AS m
  FROM occ GROUP BY lang, word
),
per AS (
  SELECT c.lang,
         CAST(sum(c.m) AS BIGINT) AS n_words,
         CAST(sum(c.m * s.n_sym) AS BIGINT) AS n_tokens,
         CAST(sum(c.m * length(c.word)) AS BIGINT) AS n_chars
  FROM cnt c JOIN seg s ON c.word = s.word
  GROUP BY c.lang
),
mn AS (SELECT min(1000 * n_tokens // n_words) AS min_fert FROM per)
SELECT lang, n_words, n_tokens,
       CAST(1000 * n_tokens // n_words AS BIGINT) AS fertility_milli,
       CAST(1000 * n_chars // n_tokens AS BIGINT) AS chars_per_token_milli,
       CAST(1000000 * (1000 * n_tokens // n_words) // mn.min_fert AS BIGINT)
         AS fert_vs_best_ppm,
       (1000 * n_tokens // n_words) * 2 > mn.min_fert * 3 AS unfair_flag
FROM per, mn
"""
)


@register(
    "tokenizer_fertility",
    oracle=_FERT_SQL,
    doc="Tokenizer fairness: per-language fertility of the learned BPE "
    "(exact milli tokens-per-word, chars-per-token, ratio to the "
    "best-served language in ppm, >1.5x unfairness flag via the integer "
    "cross-multiplication 2*fert > 3*min) — the audit that catches a vocab "
    "quietly taxing minority languages",
    tags=("ext", "corpus", "tokenizer"),
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: identical cost class to bpe_tokenize_apply — the learn
    DAG runs on the Heaps-bounded vocabulary, the corpus contributes one
    (lang, word)-keyed counting aggregation, the word->symbol-count table
    BROADCASTS onto it, and the fairness floor is a 1-row broadcast. Text
    never shuffles."""
    _, vocabs = _spark_bpe_chain(spark, sf_dir)
    seg = vocabs[_BPE_ROUNDS].select(
        "word", F.size(F.expr(_BPE_SYMS)).cast("long").alias("n_sym")
    )
    docs = parallel_scan(spark, sf_dir, "documents")
    cnt = (
        docs.select("lang", F.explode(F.expr(_SPARK_TOK)).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    per = (
        cnt.join(F.broadcast(seg), "word")
        .groupBy("lang")
        .agg(
            F.sum("m").cast("long").alias("n_words"),
            F.sum(F.col("m") * F.col("n_sym")).cast("long").alias("n_tokens"),
            F.sum(F.col("m") * F.length("word")).cast("long").alias("n_chars"),
        )
    )
    per = per.localCheckpoint(eager=False)  # feeds the floor AND the output
    mn = per.agg(
        F.expr("min(1000 * n_tokens div n_words)").cast("long").alias("min_fert")
    )
    return per.crossJoin(F.broadcast(mn)).select(
        "lang",
        "n_words",
        "n_tokens",
        F.expr("CAST(1000 * n_tokens div n_words AS BIGINT)").alias(
            "fertility_milli"
        ),
        F.expr("CAST(1000 * n_chars div n_tokens AS BIGINT)").alias(
            "chars_per_token_milli"
        ),
        F.expr(
            "CAST(1000000 * (1000 * n_tokens div n_words) div min_fert AS BIGINT)"
        ).alias("fert_vs_best_ppm"),
        F.expr("(1000 * n_tokens div n_words) * 2 > min_fert * 3").alias(
            "unfair_flag"
        ),
    )


# ---------------------------------------------------------------------------
# Gini concentration: the inequality coefficient of per-user activity — the
# one-number answer to "is this stream's load a long tail or a few whales?"
# that hot-key salting, shard planning, and contributor-diversity audits all
# read. Exact rank formula G = (2*sum(i*x_i) - (n+1)*sum(x_i)) / (n*sum(x_i))
# over users ranked ascending by (count, user_id) WITHIN each stream — the
# rank window partitions by the bounded stream dimension, and every product
# lives in DECIMAL(38)/HUGEINT, so the ppm output is exact.
# ---------------------------------------------------------------------------
_GINI_SQL = """
WITH ucnt AS (
  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, user_id
),
ranked AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY x, user_id) AS i
  FROM ucnt
),
agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s0,
         sum(CAST(i AS HUGEINT) * x) AS s1
  FROM ranked GROUP BY event_type
)
SELECT event_type, n AS n_users, s0 AS n_events,
       CAST((2000000 * s1 - 1000000 * (CAST(n AS HUGEINT) + 1) * s0)
            // (CAST(n AS HUGEINT) * s0) AS BIGINT) AS gini_ppm
FROM agg
"""


@register(
    "gini_concentration",
    oracle=_GINI_SQL,
    doc="Gini coefficient of per-user activity per stream — the exact rank "
    "formula (2*sum(i*x) - (n+1)*sum(x)) / (n*sum(x)) over users ranked "
    "ascending by (count, user_id), DECIMAL(38)/HUGEINT products, exact "
    "ppm; the whales-vs-long-tail number hot-key salting and shard "
    "planning read",
    tags=("ext", "mining", "ops"),
)
def gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one user-keyed counting aggregation (uniform key), one
    rank window PARTITIONED BY the bounded stream dimension over the
    (stream, user) counts — per-stream partition-local sorts, no global
    order — and a bounded final fold with exact integer products."""
    from pyspark.sql import Window

    events = parallel_scan(spark, sf_dir, "events")
    ucnt = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("x", "user_id")
    ranked = ucnt.withColumn("i", F.row_number().over(w))
    dec = "DECIMAL(38,0)"
    agg = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s0"),
        F.sum(F.expr(f"CAST(i AS {dec}) * x")).alias("s1"),
    )
    return agg.select(
        "event_type",
        F.col("n").alias("n_users"),
        F.col("s0").alias("n_events"),
        F.expr(
            f"CAST((2000000 * s1 - 1000000 * (CAST(n AS {dec}) + 1) * s0)"
            f" div (CAST(n AS {dec}) * s0) AS BIGINT)"
        ).alias("gini_ppm"),
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction: the standard experimentation trick — adjust the
# experiment metric Y by the pre-period covariate X (theta = cov/var) so
# the A/B test needs corr^2 less traffic. This computes, per md5-assigned
# variant, the exact ingredients: theta in micro units (sign-split integer
# division) and the achievable variance reduction corr^2(X, Y) in ppm,
# from DECIMAL(38)/HUGEINT moment sums over per-user (pre, post) activity.
# The pre/post split is the data's own epoch midpoint, attached as a
# broadcast 1-row bound.
# ---------------------------------------------------------------------------
_CUPED_SQL = """
WITH b AS (
  SELECT (CAST(floor(epoch(min(ts))) AS BIGINT)
          + CAST(floor(epoch(max(ts))) AS BIGINT)) // 2 AS mid
  FROM events
),
u AS (
  SELECT user_id,
         CAST(count(*) FILTER (WHERE CAST(floor(epoch(ts)) AS BIGINT) <= b.mid)
              AS BIGINT) AS x,
         CAST(count(*) FILTER (WHERE CAST(floor(epoch(ts)) AS BIGINT) > b.mid)
              AS BIGINT) AS y
  FROM events, b GROUP BY user_id, b.mid
),
v AS (
  SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
         x, y
  FROM u
),
m AS (
  SELECT variant, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(y AS HUGEINT) * y) AS syy,
         sum(CAST(x AS HUGEINT) * y) AS sxy
  FROM v GROUP BY variant
),
k AS (
  SELECT variant, n, sx, sy,
         CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS cov_n,
         CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS varx_n,
         CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS vary_n
  FROM m
)
SELECT variant, n AS n_users, sx AS pre_events, sy AS post_events,
       CASE WHEN varx_n = 0 THEN NULL
            ELSE CAST((CASE WHEN cov_n < 0 THEN -1 ELSE 1 END)
                      * ((1000000 * abs(cov_n)) // varx_n) AS BIGINT) END
         AS theta_micro,
       CASE WHEN varx_n * vary_n = 0 THEN NULL
            ELSE CAST((1000000 * cov_n * cov_n) // (varx_n * vary_n)
                      AS BIGINT) END AS var_reduction_ppm
FROM k
"""


@register(
    "cuped_variance_reduction",
    oracle=_CUPED_SQL,
    doc="CUPED experiment adjustment: per md5-assigned variant, theta = "
    "cov(pre, post)/var(pre) in sign-split micro units and the achievable "
    "variance reduction corr^2 in exact ppm, from HUGEINT/DECIMAL(38) "
    "moment sums over per-user pre/post activity split at the data's own "
    "epoch midpoint — the measurement that prices a covariate before "
    "an A/B test commits to it",
    tags=("ext", "mining", "behavior"),
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one 1-row bound broadcast onto the scan, one user-keyed
    conditional-count aggregation (uniform key, map-side partials), one
    bounded per-variant moment fold. Exact integer moments make corr^2 and
    theta order-free and engine-identical; the sign-split division keeps
    negative covariances truncating the same way in both engines."""
    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        hash_uniform,
    )

    events = parallel_scan(spark, sf_dir, "events")
    b = events.agg(
        F.expr(
            "(CAST(floor(min(unix_timestamp(ts))) AS BIGINT)"
            " + CAST(floor(max(unix_timestamp(ts))) AS BIGINT)) div 2"
        ).alias("mid")
    )
    u = (
        events.select("user_id", F.col("ts").cast("long").alias("es"))
        .crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.expr("CAST(count_if(es <= mid) AS BIGINT)").alias("x"),
            F.expr("CAST(count_if(es > mid) AS BIGINT)").alias("y"),
        )
    )
    v = u.select(
        F.when(hash_uniform("user_id") % 2 == 0, "A").otherwise("B").alias("variant"),
        "x",
        "y",
    )
    dec = "DECIMAL(38,0)"
    m = v.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr(f"CAST(x AS {dec}) * x")).alias("sxx"),
        F.sum(F.expr(f"CAST(y AS {dec}) * y")).alias("syy"),
        F.sum(F.expr(f"CAST(x AS {dec}) * y")).alias("sxy"),
    )
    k = m.select(
        "variant",
        "n",
        "sx",
        "sy",
        F.expr(f"CAST(n AS {dec}) * sxy - CAST(sx AS {dec}) * sy").alias("cov_n"),
        F.expr(f"CAST(n AS {dec}) * sxx - CAST(sx AS {dec}) * sx").alias("varx_n"),
        F.expr(f"CAST(n AS {dec}) * syy - CAST(sy AS {dec}) * sy").alias("vary_n"),
    )
    return k.select(
        "variant",
        F.col("n").alias("n_users"),
        F.col("sx").alias("pre_events"),
        F.col("sy").alias("post_events"),
        F.expr(
            "CASE WHEN varx_n = 0 THEN NULL"
            " ELSE CAST((CASE WHEN cov_n < 0 THEN -1 ELSE 1 END)"
            "      * ((1000000 * abs(cov_n)) div varx_n) AS BIGINT) END"
        ).alias("theta_micro"),
        F.expr(
            "CASE WHEN varx_n * vary_n = 0 THEN NULL"
            " ELSE CAST((1000000 * cov_n * cov_n) div (varx_n * vary_n)"
            "      AS BIGINT) END"
        ).alias("var_reduction_ppm"),
    )


# ---------------------------------------------------------------------------
# Vocabulary OOV drift: freeze a top-N vocabulary on the training half of
# the corpus and measure the out-of-vocabulary token rate per source on
# the held-out half — the operational staleness metric of any fixed
# tokenizer/embedding table (what fraction of tokens map to UNK). The
# vocab is Heaps-bounded and selected by the two-phase local-slice merge
# (no global sort of the word table); application is one broadcast join.
# ---------------------------------------------------------------------------
_OOV_VOCAB_N = 16  # deliberately tight vs the corpus vocabulary, so OOV is nonzero

_OOV_SQL = f"""
WITH train AS (
  SELECT unnest({_DUCK_TOK}) AS word FROM documents WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
),
wc AS (SELECT word, CAST(count(*) AS BIGINT) AS f FROM train GROUP BY word),
vocab AS (
  SELECT word FROM (
    SELECT word, row_number() OVER (ORDER BY f DESC, word) AS r FROM wc
  ) WHERE r <= {_OOV_VOCAB_N}
),
held AS (
  SELECT source, unnest({_DUCK_TOK}) AS word
  FROM documents WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 1
)
SELECT h.source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (WHERE v.word IS NULL) AS BIGINT) AS n_oov,
       CAST(1000000 * count(*) FILTER (WHERE v.word IS NULL) // count(*)
            AS BIGINT) AS oov_ppm
FROM held h LEFT JOIN vocab v ON v.word = h.word
GROUP BY h.source
"""


@register(
    "vocab_oov_drift",
    oracle=_OOV_SQL,
    doc=f"Vocabulary staleness: top-{_OOV_VOCAB_N} vocab frozen on the "
    "md5-even training half, OOV token rate per source on the held-out "
    "half (exact ppm) — the fraction of tokens a fixed tokenizer maps to "
    "UNK; vocab via two-phase top-N, application via one broadcast join",
    tags=("ext", "mining", "tokenizer"),
)
def vocab_oov_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one word-count aggregation over the training half
    (uniform keys, map-side partials), a two-phase top-N over the
    Heaps-bounded vocab (locals slice per partition, tiny merge), then the
    held-out token stream joins the BROADCAST vocab once — the stream
    never shuffles. At 100 TB the vocab is still 256 rows."""
    docs = parallel_scan(spark, sf_dir, "documents")
    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        hash_uniform,
    )

    train = docs.filter(hash_uniform("doc_id") % 2 == 0).select(
        F.explode(F.expr(_SPARK_TOK)).alias("word")
    )
    wc = train.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("f"))
    cand = F.struct((-F.col("f")).alias("nf"), F.col("word").alias("w"))
    local = wc.groupBy(F.spark_partition_id().alias("_pid")).agg(
        F.slice(F.array_sort(F.collect_list(cand)), 1, _OOV_VOCAB_N).alias("c")
    )
    vocab = (
        local.agg(
            F.slice(
                F.array_sort(F.flatten(F.collect_list("c"))), 1, _OOV_VOCAB_N
            ).alias("topn")
        )
        .select(F.explode("topn").alias("t"))
        .select(F.col("t.w").alias("word"))
    )
    held = docs.filter(hash_uniform("doc_id") % 2 == 1).select(
        "source", F.explode(F.expr(_SPARK_TOK)).alias("word")
    )
    joined = held.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "word", "left"
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.expr("CAST(count_if(in_vocab IS NULL) AS BIGINT)").alias("n_oov"),
        F.expr(
            "CAST(1000000 * count_if(in_vocab IS NULL) div count(1) AS BIGINT)"
        ).alias("oov_ppm"),
    )


# ---------------------------------------------------------------------------
# Fellegi-Sunter record linkage: probabilistic entity resolution between the
# customer table and a deterministically-perturbed replica (digit typo in
# the name for 1/4 of keys, one-cent balance shift for 1/5, segment wiped
# for 1/7). Blocking on nationkey bounds the candidate set (coarse enough
# that genuine non-match candidates exist — the u-probabilities are learned
# from real impostor pairs);
# per-field m/u agreement rates learned from the labeled candidates give
# Laplace-smoothed likelihood ratios in exact milli units; each pair's FS
# score is the 128-bit product of its three field LRs, classified into
# match / possible / nonmatch tiers whose precision and truth-share are
# reported in exact ppm. The linkage-quality audit every warehouse-side
# identity-resolution pipeline needs.
# ---------------------------------------------------------------------------
_FS_MATCH_MILLI3 = 8_000_000_000  # LR product >= 8 (milli^3 units)
_FS_POSSIBLE_MILLI3 = 1_000_000_000  # LR product >= 1

_FS_STATS_COLS = """
         CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS t_tot,
         CAST(sum(CASE WHEN NOT is_true THEN 1 ELSE 0 END) AS BIGINT) AS u_tot,
         CAST(sum(CASE WHEN is_true AND name_eq THEN 1 ELSE 0 END) AS BIGINT) AS m_name,
         CAST(sum(CASE WHEN NOT is_true AND name_eq THEN 1 ELSE 0 END) AS BIGINT) AS u_name,
         CAST(sum(CASE WHEN is_true AND bal_eq THEN 1 ELSE 0 END) AS BIGINT) AS m_bal,
         CAST(sum(CASE WHEN NOT is_true AND bal_eq THEN 1 ELSE 0 END) AS BIGINT) AS u_bal,
         CAST(sum(CASE WHEN is_true AND seg_eq THEN 1 ELSE 0 END) AS BIGINT) AS m_seg,
         CAST(sum(CASE WHEN NOT is_true AND seg_eq THEN 1 ELSE 0 END) AS BIGINT) AS u_seg
"""


def _fs_lr(field: str) -> str:
    """Laplace-smoothed agreement/disagreement likelihood ratios (milli)."""
    return (
        f"1000 * (m_{field} + 1) * (u_tot + 2)"
        f" // ((t_tot + 2) * (u_{field} + 1)) AS lr_{field}_a,\n"
        f"    1000 * (t_tot - m_{field} + 1) * (u_tot + 2)"
        f" // ((t_tot + 2) * (u_tot - u_{field} + 1)) AS lr_{field}_d"
    )


_FS_SQL = f"""
WITH base AS (
  SELECT c_custkey AS ck, c_name AS name, c_nationkey AS nk,
         CAST(floor(c_acctbal * 1000) AS BIGINT) AS bal_milli,
         c_mktsegment AS seg
  FROM customer
),
replica AS (
  SELECT ck, nk,
         CASE WHEN CAST(('0x' || substr(md5(CAST(ck AS VARCHAR) || ':n'), 1, 8))
                   AS BIGINT) % 4 = 0
              THEN substr(name, 1, 10) || 'X' || substr(name, 12) ELSE name
         END AS name,
         CASE WHEN CAST(('0x' || substr(md5(CAST(ck AS VARCHAR) || ':a'), 1, 8))
                   AS BIGINT) % 5 = 0
              THEN bal_milli + 10 ELSE bal_milli END AS bal_milli,
         CASE WHEN CAST(('0x' || substr(md5(CAST(ck AS VARCHAR) || ':s'), 1, 8))
                   AS BIGINT) % 7 = 0
              THEN 'UNKNOWN' ELSE seg END AS seg
  FROM base
),
cand AS (
  SELECT a.name = b.name AS name_eq,
         a.bal_milli = b.bal_milli AS bal_eq,
         a.seg = b.seg AS seg_eq,
         a.ck = b.ck AS is_true
  FROM base a JOIN replica b ON a.nk = b.nk
),
stats AS (
  SELECT {_FS_STATS_COLS}
  FROM cand
),
weights AS (
  SELECT t_tot, u_tot,
    {_fs_lr('name')},
    {_fs_lr('bal')},
    {_fs_lr('seg')}
  FROM stats
),
scored AS (
  SELECT c.is_true, w.t_tot,
         CAST(CASE WHEN c.name_eq THEN w.lr_name_a ELSE w.lr_name_d END AS HUGEINT)
           * (CASE WHEN c.bal_eq THEN w.lr_bal_a ELSE w.lr_bal_d END)
           * (CASE WHEN c.seg_eq THEN w.lr_seg_a ELSE w.lr_seg_d END) AS score
  FROM cand c, weights w
)
SELECT CASE WHEN score >= {_FS_MATCH_MILLI3} THEN 'match'
            WHEN score >= {_FS_POSSIBLE_MILLI3} THEN 'possible'
            ELSE 'nonmatch' END AS tier,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true_pairs,
       CAST(1000000 * sum(CASE WHEN is_true THEN 1 ELSE 0 END) // count(*)
            AS BIGINT) AS precision_ppm,
       CAST(1000000 * sum(CASE WHEN is_true THEN 1 ELSE 0 END) // max(t_tot)
            AS BIGINT) AS truth_share_ppm
FROM scored GROUP BY 1
"""


@register(
    "entity_resolution_fs",
    oracle=_FS_SQL,
    doc="Fellegi-Sunter record linkage: customer vs a deterministically "
    "noised replica, blocked on nationkey; per-field m/u "
    "rates learned from the labeled candidate pairs give Laplace-smoothed "
    "likelihood ratios in exact milli, each pair scored by the 128-bit LR "
    "product and tiered match/possible/nonmatch with precision and "
    "truth-share in exact ppm — the identity-resolution capability class "
    "(blocking + probabilistic scoring), distinct from document dedup",
    tags=("ext", "dedup", "dq", "ml"),
)
def entity_resolution_fs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the replica is a narrow projection of the same scan;
    candidates come ONLY from the blocked equi-join on the nation key —
    never all-pairs (block size is sum of squared block counts); the m/u stats aggregate to
    ONE row broadcast back over the candidates; tier rollup is a 3-key
    aggregation. At 100 TB the block key is the knob: append name-suffix
    chars or balance bands to shrink blocks — same plan, smaller join."""
    cust = parallel_scan(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("ck"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nk"),
        F.expr("CAST(floor(c_acctbal * 1000) AS BIGINT)").alias("bal_milli"),
        F.col("c_mktsegment").alias("seg"),
    ).localCheckpoint(eager=False)  # feeds both join sides
    def _bucket(salt: str, mod: int) -> str:
        return (
            f"CAST(conv(substr(md5(CAST(ck AS STRING) || '{salt}'), 1, 8),"
            f" 16, 10) AS BIGINT) % {mod} = 0"
        )

    replica = base.select(
        "ck",
        "nk",
        F.expr(
            f"CASE WHEN {_bucket(':n', 4)}"
            " THEN substr(name, 1, 10) || 'X' || substr(name, 12)"
            " ELSE name END"
        ).alias("name"),
        F.expr(
            f"CASE WHEN {_bucket(':a', 5)} THEN bal_milli + 10"
            " ELSE bal_milli END"
        ).alias("bal_milli"),
        F.expr(
            f"CASE WHEN {_bucket(':s', 7)} THEN 'UNKNOWN' ELSE seg END"
        ).alias("seg"),
    )
    a = base.select(
        F.col("ck").alias("ck_a"),
        "nk",
        F.col("name").alias("name_a"),
        F.col("bal_milli").alias("bal_a"),
        F.col("seg").alias("seg_a"),
    )
    b = replica.select(
        F.col("ck").alias("ck_b"),
        "nk",
        F.col("name").alias("name_b"),
        F.col("bal_milli").alias("bal_b"),
        F.col("seg").alias("seg_b"),
    )
    cand = (
        a.join(b, ["nk"])
        .select(
            (F.col("name_a") == F.col("name_b")).alias("name_eq"),
            (F.col("bal_a") == F.col("bal_b")).alias("bal_eq"),
            (F.col("seg_a") == F.col("seg_b")).alias("seg_eq"),
            (F.col("ck_a") == F.col("ck_b")).alias("is_true"),
        )
        .localCheckpoint(eager=False)  # feeds stats AND scoring
    )
    stats = cand.agg(
        F.sum(F.col("is_true").cast("int")).cast("long").alias("t_tot"),
        F.sum((~F.col("is_true")).cast("int")).cast("long").alias("u_tot"),
        F.sum((F.col("is_true") & F.col("name_eq")).cast("int")).cast("long").alias("m_name"),
        F.sum((~F.col("is_true") & F.col("name_eq")).cast("int")).cast("long").alias("u_name"),
        F.sum((F.col("is_true") & F.col("bal_eq")).cast("int")).cast("long").alias("m_bal"),
        F.sum((~F.col("is_true") & F.col("bal_eq")).cast("int")).cast("long").alias("u_bal"),
        F.sum((F.col("is_true") & F.col("seg_eq")).cast("int")).cast("long").alias("m_seg"),
        F.sum((~F.col("is_true") & F.col("seg_eq")).cast("int")).cast("long").alias("u_seg"),
    )
    weights = stats.select(
        "t_tot",
        "u_tot",
        *[
            c
            for field in ("name", "bal", "seg")
            for c in (
                F.expr(
                    f"1000 * (m_{field} + 1) * (u_tot + 2)"
                    f" div ((t_tot + 2) * (u_{field} + 1))"
                ).alias(f"lr_{field}_a"),
                F.expr(
                    f"1000 * (t_tot - m_{field} + 1) * (u_tot + 2)"
                    f" div ((t_tot + 2) * (u_tot - u_{field} + 1))"
                ).alias(f"lr_{field}_d"),
            )
        ],
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    scored = cand.crossJoin(F.broadcast(weights)).select(
        "is_true",
        "t_tot",
        F.expr(
            dec.format("CASE WHEN name_eq THEN lr_name_a ELSE lr_name_d END")
            + f" * {dec.format('CASE WHEN bal_eq THEN lr_bal_a ELSE lr_bal_d END')}"
            + f" * {dec.format('CASE WHEN seg_eq THEN lr_seg_a ELSE lr_seg_d END')}"
        ).alias("score"),
    )
    return scored.select(
        F.expr(
            f"CASE WHEN score >= {_FS_MATCH_MILLI3} THEN 'match'"
            f" WHEN score >= {_FS_POSSIBLE_MILLI3} THEN 'possible'"
            " ELSE 'nonmatch' END"
        ).alias("tier"),
        "is_true",
        "t_tot",
    ).groupBy("tier").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.col("is_true").cast("int")).cast("long").alias("n_true_pairs"),
        F.expr(
            "CAST(1000000 * sum(CAST(is_true AS INT)) div count(1) AS BIGINT)"
        ).alias("precision_ppm"),
        F.expr(
            "CAST(1000000 * sum(CAST(is_true AS INT)) div max(t_tot) AS BIGINT)"
        ).alias("truth_share_ppm"),
    )


# ---------------------------------------------------------------------------
# Rolling-origin forecast backtest: the evaluation loop behind every
# capacity forecast — three one-step-ahead forecasters (naive-last,
# 3-day moving average, drift) replayed over the DENSIFIED per-(stream,
# day) arrival series, scored with exact integer MAE and pinball(0.9)
# losses. Missing days are real zeros (the stream_correlation_matrix
# stance); evaluation starts once every forecaster has its full history;
# the per-stream winner is flagged from the bounded rollup.
# ---------------------------------------------------------------------------
_BACKTEST_SQL = """
WITH daily AS (
  SELECT event_type AS stream_name, date_trunc('day', ts) AS d,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
grid AS (
  SELECT k.stream_name, g.d
  FROM (SELECT DISTINCT stream_name FROM daily) k
  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d
              FROM bounds) g
),
dense AS (
  SELECT g.stream_name, g.d, COALESCE(daily.y, 0) AS y
  FROM grid g LEFT JOIN daily
    ON daily.stream_name = g.stream_name AND daily.d = g.d
),
lagged AS (
  SELECT stream_name, d, y,
         lag(y, 1) OVER w AS y1, lag(y, 2) OVER w AS y2, lag(y, 3) OVER w AS y3
  FROM dense WINDOW w AS (PARTITION BY stream_name ORDER BY d)
),
forecasts AS (
  SELECT stream_name, d, y, model, f
  FROM (
    SELECT stream_name, d, y,
           'naive' AS model, 1000 * y1 AS f FROM lagged WHERE y3 IS NOT NULL
    UNION ALL
    SELECT stream_name, d, y, 'ma3',
           (1000 * (y1 + y2 + y3)) // 3 FROM lagged WHERE y3 IS NOT NULL
    UNION ALL
    SELECT stream_name, d, y, 'drift',
           1000 * (2 * y1 - y2) FROM lagged WHERE y3 IS NOT NULL
  )
),
scored AS (
  SELECT stream_name, model,
         CAST(count(*) AS BIGINT) AS n_eval_days,
         CAST(sum(abs(1000 * y - f)) // count(*) AS BIGINT) AS mae_milli,
         CAST(sum(CASE WHEN 1000 * y >= f THEN 900 * (1000 * y - f) // 1000
                       ELSE 100 * (f - 1000 * y) // 1000 END) // count(*)
              AS BIGINT) AS pinball90_milli
  FROM forecasts GROUP BY 1, 2
)
SELECT stream_name, model, n_eval_days, mae_milli, pinball90_milli,
       mae_milli = min(mae_milli) OVER (PARTITION BY stream_name) AS best_mae
FROM scored
"""


@register(
    "forecast_backtest",
    oracle=_BACKTEST_SQL,
    doc="Rolling-origin backtest of one-step forecasters (naive-last, 3-day "
    "moving average, drift) over the densified per-stream daily arrival "
    "series — exact integer MAE and pinball(0.9) losses per (stream, "
    "model), winner flagged; the model-selection loop that turns the "
    "engine's forecasts (holt_forecast_daily) into accountable choices",
    tags=("ext", "timeseries", "stats"),
)
def forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the raw stream collapses to the bounded (stream, day)
    grid in one keyed aggregation; every window (lags, winner flag) runs on
    grid-sized inputs; the 3-model melt is a narrow per-row stack."""
    from pyspark.sql import Window

    events = parallel_scan(spark, sf_dir, "events")
    daily = events.groupBy(
        F.col("event_type").alias("stream_name"),
        F.date_trunc("day", F.col("ts")).alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    daily = daily.localCheckpoint(eager=False)  # bounds, keys, AND the join
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    keys = daily.select("stream_name").distinct()
    grid = keys.crossJoin(F.broadcast(bounds)).select(
        "stream_name",
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d"),
    )
    dense = grid.join(daily, ["stream_name", "d"], "left").select(
        "stream_name", "d", F.coalesce(F.col("y"), F.lit(0)).alias("y")
    )
    w = Window.partitionBy("stream_name").orderBy("d")
    lagged = dense.select(
        "stream_name",
        "d",
        "y",
        F.lag("y", 1).over(w).alias("y1"),
        F.lag("y", 2).over(w).alias("y2"),
        F.lag("y", 3).over(w).alias("y3"),
    ).filter(F.col("y3").isNotNull())
    forecasts = lagged.select(
        "stream_name",
        "d",
        "y",
        F.expr(
            "stack(3,"
            " 'naive', 1000 * y1,"
            " 'ma3', (1000 * (y1 + y2 + y3)) div 3,"
            " 'drift', 1000 * (2 * y1 - y2)"
            ") AS (model, f)"
        ),
    )
    scored = forecasts.groupBy("stream_name", "model").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_days"),
        F.expr("CAST(sum(abs(1000 * y - f)) div count(1) AS BIGINT)").alias(
            "mae_milli"
        ),
        F.expr(
            "CAST(sum(CASE WHEN 1000 * y >= f THEN 900 * (1000 * y - f) div 1000"
            " ELSE 100 * (f - 1000 * y) div 1000 END) div count(1) AS BIGINT)"
        ).alias("pinball90_milli"),
    )
    wb = Window.partitionBy("stream_name")
    return scored.select(
        "stream_name",
        "model",
        "n_eval_days",
        "mae_milli",
        "pinball90_milli",
        (F.col("mae_milli") == F.min("mae_milli").over(wb)).alias("best_mae"),
    )


# ---------------------------------------------------------------------------
# Wald SPRT: sequential hypothesis testing — decide "success rate is 0.55
# vs 0.45" the moment the evidence suffices instead of after a fixed n.
# Each trial (value > 50) adds a FIXED log-likelihood increment, declared
# here as exact millibit integer constants (log2(11/9) ~ +/-290 mbits;
# boundaries +/-log2(19) ~ 4248 mbits for alpha = beta = 0.05), so the
# whole test is an integer cumulative walk over the per-minute trial
# rollup with a first-crossing lookup — the always-valid alternative to
# the fixed-horizon chi2_independence_2x2 screen.
# ---------------------------------------------------------------------------
_SPRT_STEP_MBITS = 290  # log2(0.55/0.45) in millibits, declared constant
_SPRT_BOUND_MBITS = 4248  # log2((1-beta)/alpha) = log2(19), alpha=beta=0.05

_SPRT_SQL = f"""
WITH trials AS (
  SELECT event_type AS stream_name, date_trunc('minute', ts) AS m,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS s
  FROM events GROUP BY 1, 2
),
walk AS (
  SELECT stream_name, m, n, s,
         sum({_SPRT_STEP_MBITS} * (2 * s - n)) OVER w AS llr_mbits,
         sum(n) OVER w AS cum_trials
  FROM trials WINDOW w AS (PARTITION BY stream_name ORDER BY m)
),
crossings AS (
  SELECT stream_name, m, llr_mbits, cum_trials
  FROM walk WHERE abs(llr_mbits) >= {_SPRT_BOUND_MBITS}
),
first_cross AS (
  SELECT stream_name,
         min(m) AS decision_minute,
         arg_min(llr_mbits, m) AS llr_at_decision,
         arg_min(cum_trials, m) AS trials_at_decision
  FROM crossings GROUP BY 1
),
totals AS (
  SELECT stream_name, CAST(sum(n) AS BIGINT) AS n_trials,
         CAST(count(*) AS BIGINT) AS n_minutes
  FROM trials GROUP BY 1
)
SELECT t.stream_name, t.n_trials, t.n_minutes,
       CASE WHEN f.stream_name IS NULL THEN 'continue'
            WHEN f.llr_at_decision >= {_SPRT_BOUND_MBITS} THEN 'accept_h1'
            ELSE 'accept_h0' END AS decision,
       CAST(epoch(f.decision_minute) AS BIGINT) AS decision_minute_s,
       CAST(f.trials_at_decision AS BIGINT) AS trials_at_decision,
       CAST(f.llr_at_decision AS BIGINT) AS llr_at_decision_mbits,
       CAST(CASE WHEN f.stream_name IS NULL THEN NULL
                 ELSE 1000000 * f.trials_at_decision // t.n_trials END
            AS BIGINT) AS sample_saving_ppm
FROM totals t LEFT JOIN first_cross f ON f.stream_name = t.stream_name
"""


@register(
    "sprt_sequential_test",
    oracle=_SPRT_SQL,
    doc="Wald sequential probability ratio test on per-minute trial rollups "
    "— exact integer millibit log-likelihood walk with declared-constant "
    "increments, first boundary crossing gives the decision, its minute, "
    "the trials spent, and the sample saving vs the fixed-horizon test; "
    "the sequential-testing family member next to the fixed-n chi-square "
    "and the CUSUM drift charts",
    tags=("ext", "stats", "timeseries", "alerting"),
)
def sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one keyed aggregation to the bounded (stream, minute)
    rollup; the LLR walk windows over that rollup only; first-crossing is
    an arg-min aggregation, and the final join is stream-keyed over a
    handful of rows."""
    from pyspark.sql import Window

    events = parallel_scan(spark, sf_dir, "events")
    trials = events.groupBy(
        F.col("event_type").alias("stream_name"),
        F.date_trunc("minute", F.col("ts")).alias("m"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("value") > 50).cast("int")).cast("long").alias("s"),
    )
    trials = trials.localCheckpoint(eager=False)  # walk AND totals
    w = (
        Window.partitionBy("stream_name")
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    walk = trials.select(
        "stream_name",
        "m",
        F.sum(F.expr(f"{_SPRT_STEP_MBITS} * (2 * s - n)")).over(w).alias("llr_mbits"),
        F.sum("n").over(w).alias("cum_trials"),
    )
    crossings = walk.filter(F.expr(f"abs(llr_mbits) >= {_SPRT_BOUND_MBITS}"))
    first_cross = crossings.groupBy("stream_name").agg(
        F.min("m").alias("decision_minute"),
        F.expr("min_by(llr_mbits, m)").alias("llr_at_decision"),
        F.expr("min_by(cum_trials, m)").alias("trials_at_decision"),
    )
    totals = trials.groupBy("stream_name").agg(
        F.sum("n").cast("long").alias("n_trials"),
        F.count(F.lit(1)).cast("long").alias("n_minutes"),
    )
    joined = totals.join(
        F.broadcast(first_cross.withColumnRenamed("stream_name", "fc_stream")),
        F.col("stream_name") == F.col("fc_stream"),
        "left",
    )
    return joined.select(
        "stream_name",
        "n_trials",
        "n_minutes",
        F.expr(
            "CASE WHEN fc_stream IS NULL THEN 'continue'"
            f" WHEN llr_at_decision >= {_SPRT_BOUND_MBITS} THEN 'accept_h1'"
            " ELSE 'accept_h0' END"
        ).alias("decision"),
        F.unix_timestamp("decision_minute").alias("decision_minute_s"),
        F.col("trials_at_decision").cast("long").alias("trials_at_decision"),
        F.col("llr_at_decision").cast("long").alias("llr_at_decision_mbits"),
        F.expr(
            "CAST(CASE WHEN fc_stream IS NULL THEN NULL"
            " ELSE 1000000 * trials_at_decision div n_trials END AS BIGINT)"
        ).alias("sample_saving_ppm"),
    )


# ---------------------------------------------------------------------------
# Embedding drift (PSI): the vector-space drift monitor a retrieval stack
# runs between index builds — per-dimension Population Stability Index
# between the early (md5-even vec_id) and late (md5-odd) populations over
# fixed equal-width milli bins, in exact millibit integers via the BM25
# fixed-point log2. The late population carries a DECLARED +0.25 shift on
# dims 0-1 (the planted-ground-truth device), so the monitor must flag
# exactly those dims and clear the rest.
# ---------------------------------------------------------------------------
_PSI_DIMS = 4
_PSI_SHIFT_MILLI = 250
#: 0.1 / 0.25 nats — the classic PSI action thresholds — in millibits.
_PSI_MINOR_MBITS = 144
_PSI_MAJOR_MBITS = 361


def _psi_sql() -> str:
    lr = (
        _log2_milli(
            "greatest(1, pa_ppm * 1000000 // pb_ppm)", _DUCK_BITS, _DUCK_SHIFT
        )
        + " - "
        + _log2_milli("1000000", _DUCK_BITS, _DUCK_SHIFT)
    )
    return f"""
WITH melted AS (
  SELECT d.range AS dim,
         CAST(('0x' || substr(md5(CAST(e.vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 2 = 1 AS is_late,
         CAST(floor(list_extract(e.embedding, CAST(d.range + 1 AS INTEGER))
                    * 1000) AS BIGINT)
           + CASE WHEN CAST(('0x' || substr(md5(CAST(e.vec_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 2 = 1 AND d.range < 2
                  THEN {_PSI_SHIFT_MILLI} ELSE 0 END AS milli
  FROM read_parquet('{{sf}}/embeddings.parquet') e, range(0, {_PSI_DIMS}) d
),
binned AS (
  SELECT dim,
         least(7, greatest(0, (milli + 4000) * 8 // 8000)) AS bin,
         CAST(sum(CASE WHEN NOT is_late THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN is_late THEN 1 ELSE 0 END) AS BIGINT) AS b
  FROM melted GROUP BY 1, 2
),
tot AS (
  SELECT dim, CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb
  FROM binned GROUP BY 1
),
shares AS (
  SELECT x.dim,
         (x.a + 1) * 1000000 // (t.na + 8) AS pa_ppm,
         (x.b + 1) * 1000000 // (t.nb + 8) AS pb_ppm,
         t.na, t.nb
  FROM binned x JOIN tot t ON t.dim = x.dim
),
contribs AS (
  SELECT dim, na, nb,
         (pa_ppm - pb_ppm) * ({lr}) // 1000000 AS c_milli
  FROM shares
)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(max(na) AS BIGINT) AS n_early,
       CAST(max(nb) AS BIGINT) AS n_late,
       CAST(sum(c_milli) AS BIGINT) AS psi_millibits,
       CASE WHEN sum(c_milli) >= {_PSI_MAJOR_MBITS} THEN 'major'
            WHEN sum(c_milli) >= {_PSI_MINOR_MBITS} THEN 'moderate'
            ELSE 'stable' END AS drift_class,
       min(dim) < 2 AS planted
FROM contribs GROUP BY 1
"""


@register(
    "embedding_drift_psi",
    oracle=_psi_sql().replace(
        "read_parquet('{sf}/embeddings.parquet')", "embeddings"
    ),
    doc="Vector-space drift monitor: per-dimension Population Stability "
    "Index between early and late embedding populations over fixed milli "
    "bins, in exact millibit integers (the BM25 fixed-point log2); the "
    "late half carries a declared +0.25 shift on dims 0-1, so the planted "
    "dims must classify as drifted and the rest stable — the index-refresh "
    "trigger an ANN serving stack monitors",
    tags=("ext", "similarity", "embedding", "stats"),
)
def embedding_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: a narrow 4-way dim melt per vector (no shuffle before
    the bounded (dim, bin) aggregation), share arithmetic on the 32-row
    bin table, and a per-dim rollup. The log2 is the shared fixed-point
    primitive — no floats anywhere."""
    emb = parallel_scan(spark, sf_dir, "embeddings")
    lr = (
        _log2_milli(
            "greatest(1, pa_ppm * 1000000 div pb_ppm)", _SPARK_BITS, _SPARK_SHIFT
        )
        + " - "
        + _log2_milli("1000000", _SPARK_BITS, _SPARK_SHIFT)
    )
    melted = emb.select(
        F.explode(F.expr(f"sequence(0, {_PSI_DIMS - 1})")).alias("dim"),
        F.expr(
            "CAST(conv(substr(md5(CAST(vec_id AS STRING)), 1, 8), 16, 10)"
            " AS BIGINT) % 2 = 1"
        ).alias("is_late"),
        F.col("embedding"),
    ).select(
        "dim",
        "is_late",
        (
            F.expr(
                "CAST(floor(element_at(embedding, CAST(dim + 1 AS INT)) * 1000)"
                " AS BIGINT)"
            )
            + F.expr(
                f"CASE WHEN is_late AND dim < 2 THEN {_PSI_SHIFT_MILLI}"
                " ELSE 0 END"
            )
        ).alias("milli"),
    )
    binned = melted.groupBy(
        "dim",
        F.expr("least(7, greatest(0, (milli + 4000) * 8 div 8000))").alias("bin"),
    ).agg(
        F.sum((~F.col("is_late")).cast("int")).cast("long").alias("a"),
        F.sum(F.col("is_late").cast("int")).cast("long").alias("b"),
    )
    tot = binned.groupBy("dim").agg(
        F.sum("a").cast("long").alias("na"), F.sum("b").cast("long").alias("nb")
    )
    shares = binned.join(F.broadcast(tot), "dim").select(
        "dim",
        F.expr("(a + 1) * 1000000 div (na + 8)").alias("pa_ppm"),
        F.expr("(b + 1) * 1000000 div (nb + 8)").alias("pb_ppm"),
        "na",
        "nb",
    )
    contribs = shares.select(
        "dim",
        "na",
        "nb",
        F.expr(f"(pa_ppm - pb_ppm) * ({lr}) div 1000000").alias("c_milli"),
    )
    return contribs.groupBy(F.col("dim").cast("long").alias("dim")).agg(
        F.max("na").cast("long").alias("n_early"),
        F.max("nb").cast("long").alias("n_late"),
        F.sum("c_milli").cast("long").alias("psi_millibits"),
        F.expr(
            f"CASE WHEN sum(c_milli) >= {_PSI_MAJOR_MBITS} THEN 'major'"
            f" WHEN sum(c_milli) >= {_PSI_MINOR_MBITS} THEN 'moderate'"
            " ELSE 'stable' END"
        ).alias("drift_class"),
        F.expr("min(dim) < 2").alias("planted"),
    )


# ---------------------------------------------------------------------------
# Power analysis: the experiment-design step BEFORE cuped/SPRT run — per
# stream, the per-arm sample size a two-sample test needs to detect an
# absolute effect delta at alpha = 0.05 (two-sided) with 80% power:
# n = 2 sigma^2 (z_a + z_b)^2 / delta^2. The z-sum is a declared milli
# constant ((1.960 + 0.842)^2 = 7.851364 in micro); the variance comes
# from exact DECIMAL(38) moments in milli^2 — so the whole sheet is
# integer arithmetic, swept over two candidate effect sizes.
# ---------------------------------------------------------------------------
_POWER_ZSUM2_MICRO = 7_851_364  # (1960 + 842)^2 milli^2 -> micro

_POWER_SQL = f"""
WITH x AS (
  SELECT event_type AS stream_name,
         CAST(floor(value * 1000) AS BIGINT) AS v
  FROM events
),
mo AS (
  SELECT stream_name,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(v) AS HUGEINT) AS sx,
         CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS sxx
  FROM x GROUP BY 1
),
var AS (
  SELECT stream_name, CAST(n AS BIGINT) AS n_obs,
         CAST((n * sxx - sx * sx) // (n * n) AS BIGINT) AS var_milli2
  FROM mo
)
SELECT stream_name, n_obs, var_milli2,
       CAST(d.delta_milli AS BIGINT) AS delta_milli,
       CAST((2 * CAST(var_milli2 AS HUGEINT) * {_POWER_ZSUM2_MICRO}
             + CAST(d.delta_milli AS HUGEINT) * d.delta_milli * 1000000 - 1)
            // (CAST(d.delta_milli AS HUGEINT) * d.delta_milli * 1000000)
            AS BIGINT) AS n_required_per_arm,
       n_obs >= 2 * CAST((2 * CAST(var_milli2 AS HUGEINT) * {_POWER_ZSUM2_MICRO}
             + CAST(d.delta_milli AS HUGEINT) * d.delta_milli * 1000000 - 1)
            // (CAST(d.delta_milli AS HUGEINT) * d.delta_milli * 1000000)
            AS BIGINT) AS feasible_now
FROM var, (VALUES (1000), (5000)) d(delta_milli)
"""


@register(
    "sample_size_power_calc",
    oracle=_POWER_SQL,
    doc="Experiment power analysis: per-arm sample size to detect absolute "
    "effects of 1.0 and 5.0 units at alpha 0.05 / power 80%, from exact "
    "DECIMAL(38) variance moments in milli^2 with a declared z-sum "
    "constant — ceil division, feasibility vs current volume; the design "
    "sheet that precedes cuped_variance_reduction and the SPRT",
    tags=("ext", "stats", "behavior"),
)
def sample_size_power_calc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one keyed moment aggregation (map-side partials) and a
    2-row broadcast sweep; the squares live in DECIMAL(38,0)."""
    events = parallel_scan(spark, sf_dir, "events")
    dec = "CAST({} AS DECIMAL(38,0))"
    mo = events.groupBy(F.col("event_type").alias("stream_name")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr("CAST(floor(value * 1000) AS BIGINT)"))
        .cast("long")
        .alias("sx"),
        F.sum(
            F.expr(
                "CAST(floor(value * 1000) AS BIGINT)"
                " * CAST(floor(value * 1000) AS BIGINT)"
            )
        )
        .cast("long")
        .alias("sxx"),
    )
    var = mo.select(
        "stream_name",
        F.col("n").alias("n_obs"),
        F.expr(
            f"CAST(({dec.format('n')} * {dec.format('sxx')}"
            f" - {dec.format('sx')} * {dec.format('sx')})"
            f" div ({dec.format('n')} * {dec.format('n')}) AS BIGINT)"
        ).alias("var_milli2"),
    )
    deltas = (
        events.sparkSession.range(1)
        .select(F.explode(F.array(F.lit(1000), F.lit(5000))).alias("delta_milli"))
        .select(F.col("delta_milli").cast("long").alias("delta_milli"))
    )
    need = (
        f"CAST((2 * {dec.format('var_milli2')} * {_POWER_ZSUM2_MICRO}"
        f" + {dec.format('delta_milli')} * delta_milli * 1000000 - 1)"
        f" div ({dec.format('delta_milli')} * delta_milli * 1000000) AS BIGINT)"
    )
    return var.crossJoin(F.broadcast(deltas)).select(
        "stream_name",
        "n_obs",
        "var_milli2",
        "delta_milli",
        F.expr(need).alias("n_required_per_arm"),
        F.expr(f"n_obs >= 2 * {need}").alias("feasible_now"),
    )


# ---------------------------------------------------------------------------
# Seasonality decomposition: classical series = seasonal + residual over
# the hour-of-day profile — per stream, the 24-slot seasonal means (milli),
# the peak slot and its ratio to the overall mean, and the seasonality
# strength 1 - SS_resid/SS_total in exact ppm (DECIMAL(38) sums of
# squares). The structure question (IS there a daily cycle?) behind
# seasonal_baseline_flags' assumption of one.
# ---------------------------------------------------------------------------
_SEASON_SQL = """
WITH hourly AS (
  SELECT event_type AS stream_name, date_trunc('hour', ts) AS h,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
slot AS (
  SELECT stream_name, CAST(extract(hour FROM h) AS BIGINT) AS hod,
         CAST(count(*) AS BIGINT) AS n_h,
         CAST(sum(x) AS BIGINT) AS sx_h
  FROM hourly GROUP BY 1, 2
),
smean AS (
  SELECT stream_name, hod, n_h, sx_h,
         1000 * sx_h // n_h AS smean_milli
  FROM slot
),
resid AS (
  SELECT h.stream_name, h.x, s.smean_milli,
         1000 * h.x - s.smean_milli AS r_milli
  FROM hourly h
  JOIN smean s ON s.stream_name = h.stream_name
              AND s.hod = CAST(extract(hour FROM h.h) AS BIGINT)
),
agg AS (
  SELECT stream_name,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(1000 * x) AS HUGEINT) AS sx,
         CAST(sum(CAST(1000 * x AS HUGEINT) * (1000 * x)) AS HUGEINT) AS sxx,
         CAST(sum(r_milli) AS HUGEINT) AS sr,
         CAST(sum(CAST(r_milli AS HUGEINT) * r_milli) AS HUGEINT) AS srr
  FROM resid GROUP BY 1
),
peaks AS (
  -- tie-break: among equal seasonal means the EARLIEST hour wins
  -- (hod < 24 << 1000, so the composite score is a total order)
  SELECT stream_name, arg_max(hod, smean_milli * 1000 - hod) AS peak_hod,
         max(smean_milli) AS peak_milli
  FROM smean GROUP BY 1
)
SELECT a.stream_name,
       CAST(a.n AS BIGINT) AS n_hours,
       CAST(a.sx // a.n AS BIGINT) AS mean_milli,
       CAST(p.peak_hod AS BIGINT) AS peak_hod,
       CAST(1000 * p.peak_milli // (a.sx // a.n) AS BIGINT) AS peak_ratio_milli,
       CAST(1000000 - 1000000 * (a.n * a.srr - a.sr * a.sr)
            // (a.n * a.sxx - a.sx * a.sx) AS BIGINT) AS strength_ppm
FROM agg a JOIN peaks p ON p.stream_name = a.stream_name
"""


@register(
    "seasonality_decomposition",
    oracle=_SEASON_SQL,
    doc="Classical seasonal decomposition over the hour-of-day profile: "
    "per-stream 24-slot seasonal means in milli, peak slot and its ratio "
    "to the overall mean, and seasonality strength 1 - SS_resid/SS_total "
    "in exact ppm via DECIMAL(38) sums of squares — the is-there-a-cycle "
    "question underneath seasonal_baseline_flags",
    tags=("ext", "timeseries", "stats"),
)
def seasonality_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the raw stream collapses once to the bounded hourly
    grid; slot means are a 24-key aggregation broadcast back; all squares
    in DECIMAL(38,0); no windows over raw rows."""
    events = parallel_scan(spark, sf_dir, "events")
    dec = "CAST({} AS DECIMAL(38,0))"
    hourly = events.groupBy(
        F.col("event_type").alias("stream_name"),
        F.date_trunc("hour", F.col("ts")).alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    hourly = hourly.localCheckpoint(eager=False)  # slots AND residuals
    slot = hourly.groupBy(
        "stream_name", F.expr("CAST(extract(hour FROM h) AS BIGINT)").alias("hod")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum("x").cast("long").alias("sx_h"),
    )
    smean = slot.select(
        "stream_name", "hod", F.expr("1000 * sx_h div n_h").alias("smean_milli")
    )
    resid = hourly.select(
        "stream_name",
        F.expr("CAST(extract(hour FROM h) AS BIGINT)").alias("hod"),
        "x",
    ).join(F.broadcast(smean), ["stream_name", "hod"]).select(
        "stream_name", "x", F.expr("1000 * x - smean_milli").alias("r_milli")
    )
    agg = resid.groupBy("stream_name").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr("1000 * x")).cast("long").alias("sx"),
        F.sum(F.expr(f"{dec.format('1000 * x')} * (1000 * x)")).alias("sxx"),
        F.sum("r_milli").cast("long").alias("sr"),
        F.sum(F.expr(f"{dec.format('r_milli')} * r_milli")).alias("srr"),
    )
    peaks = smean.groupBy("stream_name").agg(
        # earliest hour wins among tied seasonal means (composite score)
        F.expr("max_by(hod, smean_milli * 1000 - hod)").alias("peak_hod"),
        F.max("smean_milli").alias("peak_milli"),
    )
    return agg.join(F.broadcast(peaks), "stream_name").select(
        "stream_name",
        F.col("n").alias("n_hours"),
        F.expr("CAST(sx div n AS BIGINT)").alias("mean_milli"),
        F.col("peak_hod").cast("long").alias("peak_hod"),
        F.expr("CAST(1000 * peak_milli div (sx div n) AS BIGINT)").alias(
            "peak_ratio_milli"
        ),
        F.expr(
            f"CAST(1000000 - 1000000 * ({dec.format('n')} * srr"
            f" - {dec.format('sr')} * sr)"
            f" div ({dec.format('n')} * sxx - {dec.format('sx')} * sx)"
            " AS BIGINT)"
        ).alias("strength_ppm"),
    )


# ---------------------------------------------------------------------------
# Isotonic calibration of the reliability curve: PAV (pool-adjacent-
# violators) over the margin-bin table, via the interval-average minimax
# closed form in `operators/calibrate.py`. The raw per-bin accuracies are
# not guaranteed monotone in margin; the isotonic fit is the canonical
# monotone repair (Zadrozny & Elkan 2002) and its pooled value is what a
# deployed filter should read as P(correct | margin).
# ---------------------------------------------------------------------------
_ISO_MARGIN_SQL = (
    _NB_MARGIN_CTES
    + f""",
bins AS (
  SELECT CAST(bin AS BIGINT) AS margin_bin,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct
  FROM m GROUP BY bin
),"""
    + duckdb_isotonic_ctes("bins", "margin_bin", "n_correct", "n_docs")
    + f"""
SELECT b.margin_bin,
       CAST(b.margin_bin * {_NBCAL_BIN_BITS} AS BIGINT) AS margin_lo_bits,
       b.n_docs, b.n_correct,
       CAST(1000000 * b.n_correct // b.n_docs AS BIGINT) AS accuracy_ppm,
       CAST(floor(iso.iso_avg * 1000000) AS BIGINT) AS iso_accuracy_ppm,
       iso.iso_avg <> CAST(b.n_correct AS DOUBLE) / CAST(b.n_docs AS DOUBLE)
         AS pooled
FROM bins b JOIN iso ON iso.margin_bin = b.margin_bin
"""
)


@register(
    "isotonic_margin_fit",
    oracle=_ISO_MARGIN_SQL,
    doc="Isotonic (PAV) calibration of the NB margin reliability curve: "
    "per margin bin the raw accuracy, the monotone pooled accuracy from "
    "the interval-average minimax closed form, and whether PAV pooled the "
    "bin — the score->P(correct) map a deployed quality/lang-ID filter "
    "thresholds against",
    tags=("ext", "mining", "ml"),
)
def isotonic_margin_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the corpus reduces to <= {_NBCAL_MAX_BIN}+1 margin-bin
    rows through `nb_margin_calibration`'s keyed aggregations; the PAV fit
    then runs entirely on that bounded table via broadcast-nested-loop
    self-joins (`operators/calibrate.py:isotonic_fit`). No new wide stage
    over raw data is introduced — the fit's cost is O(bins^3) on <= 8
    rows."""
    base = nb_margin_calibration(spark, sf_dir).localCheckpoint(eager=False)
    bins = base.select("margin_bin", "n_docs", "n_correct")
    fitted = isotonic_fit(bins, "margin_bin", "n_correct", "n_docs")
    return fitted.select(
        "margin_bin",
        (F.col("margin_bin") * _NBCAL_BIN_BITS)
        .cast("long")
        .alias("margin_lo_bits"),
        "n_docs",
        "n_correct",
        F.expr("CAST(1000000 * n_correct div n_docs AS BIGINT)").alias(
            "accuracy_ppm"
        ),
        F.floor(F.col("iso_avg") * 1000000)
        .cast("long")
        .alias("iso_accuracy_ppm"),
        (
            F.col("iso_avg")
            != F.col("n_correct").cast("double")
            / F.col("n_docs").cast("double")
        ).alias("pooled"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer, one hard-EM round (SentencePiece; Kudo 2018): seed
# a piece vocabulary from weighted word-internal substrings, Viterbi-
# segment every word TYPE against integer surprisal costs, then re-count
# pieces from the chosen segmentations — the E-step statistics the next
# M-step renormalizes on (hard EM: argmax path instead of expectations).
#
# Cross-engine exactness devices:
# - piece costs are integer floor-log2 surprisal bits (the
#   ``length(bin(total // weight)) - 1`` device shared with NB scoring);
# - Viterbi state is a FIXED-WIDTH-ENCODED string
#   ``lpad(cost,8)||lpad(n_pieces,4)||path`` so ``min()`` over candidate
#   strings is a deterministic total order (cost, then piece count, then
#   path bytes) in both engines — no float, no tie ambiguity;
# - Spark runs the whole DP as ONE ``aggregate()`` fold over positions
#   inside codegen (zero joins in the hot loop); the DuckDB twin is a
#   recursive CTE carrying the same dist list.
# ---------------------------------------------------------------------------
_UG_MAXLEN = 6  # longest candidate piece in characters
_UG_REL_PPK = 25  # keep a piece iff 1000 * weight >= 25 * candidate mass


def _ug_total_from_types(types) -> "DataFrame":
    """Candidate mass ``sum(n) over cand`` folded from the TYPE table by a
    closed form (round-10; guide section 2 — drop a full pass over the
    largest relation). A word of length L explodes into
    ``sum_{{p=1..L}} min(M, L - p + 1)`` candidate rows, which is
    ``M*L - M*(M-1)/2`` for ``L >= M`` and ``L*(L+1)/2`` otherwise, so the
    cand-wide total is exactly ``sum(n * f(length(word)))`` over types —
    bit-identical to aggregating the exploded table."""
    m = _UG_MAXLEN
    return types.agg(
        F.sum(
            F.expr(
                f"n * (CASE WHEN length(word) >= {m}"
                f" THEN {m} * length(word) - {m * (m - 1) // 2}"
                f" ELSE length(word) * (length(word) + 1) div 2 END)"
            )
        )
        .cast("long")
        .alias("total")
    )


def _ug_spark_fold(word: str = "word", om: str = "om") -> str:
    """The Viterbi DP as a single SQL ``aggregate`` fold: acc[k+1] holds
    the encoded best state for the k-char prefix; step j minimizes over
    the pieces ending at j (``om[j]``, always non-empty — single chars are
    unconditionally in the vocabulary)."""
    prev = "element_at(acc, cast(j + 1 - o.len as int))"
    piece = f"substr({word}, cast(j - o.len + 1 as int), cast(o.len as int))"
    cand = (
        f"concat("
        f"lpad(cast(cast(substr({prev}, 1, 8) as bigint) + o.cost as string), 8, '0'), "
        f"lpad(cast(cast(substr({prev}, 9, 4) as bigint) + 1 as string), 4, '0'), "
        f"case when cast(substr({prev}, 9, 4) as bigint) = 0 then {piece} "
        f"else concat(substr({prev}, 13), ' ', {piece}) end"
        f")"
    )
    enc0 = "0" * 12
    return (
        f"aggregate("
        f"sequence(1, length({word})), "
        f"array('{enc0}'), "
        f"(acc, j) -> array_append(acc, "
        f"array_min(transform(element_at({om}, j), o -> {cand}))), "
        f"acc -> element_at(acc, cast(length({word}) + 1 as int))"
        f")"
    )


_UNIGRAM_SQL = f"""
WITH RECURSIVE
tok AS (
  SELECT unnest({_DUCK_TOK}) AS word FROM documents
),
types AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY word
),
cand AS MATERIALIZED (
  SELECT word, n,
         unnest(flatten(list_transform(range(1, length(word) + 1), p ->
           list_transform(range(1, least({_UG_MAXLEN}, length(word) - p + 1) + 1),
             l -> struct_pack(pos := p, len := l,
                    sub := substr(word, CAST(p AS INT), CAST(l AS INT))))))) AS c
  FROM types
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cand),
vocab AS MATERIALIZED (
  SELECT c.sub AS sub, CAST(sum(n) AS BIGINT) AS seed_weight,
         CAST(length(bin((SELECT total FROM tot) // sum(n))) - 1 AS BIGINT)
           AS seed_cost_bits
  FROM cand
  GROUP BY c.sub
  HAVING 1000 * sum(n) >= {_UG_REL_PPK} * (SELECT total FROM tot)
      OR length(c.sub) = 1
),
opts AS MATERIALIZED (
  SELECT cc.word, cc.c.pos + cc.c.len - 1 AS endpos,
         list(struct_pack(len := cc.c.len, cost := v.seed_cost_bits)) AS opts
  FROM cand cc JOIN vocab v ON v.sub = cc.c.sub
  GROUP BY cc.word, cc.c.pos + cc.c.len - 1
),
walk(word, n, j, dists) AS (
  SELECT word, n, 0, ['{"0" * 12}'] FROM types
  UNION ALL
  SELECT w.word, w.n, w.j + 1,
    w.dists || [list_min(list_transform(e.opts, o ->
      lpad(CAST(CAST(substr(w.dists[CAST(w.j + 2 - o.len AS INT)], 1, 8)
                     AS BIGINT) + o.cost AS VARCHAR), 8, '0')
      || lpad(CAST(CAST(substr(w.dists[CAST(w.j + 2 - o.len AS INT)], 9, 4)
                        AS BIGINT) + 1 AS VARCHAR), 4, '0')
      || CASE WHEN CAST(substr(w.dists[CAST(w.j + 2 - o.len AS INT)], 9, 4)
                   AS BIGINT) = 0
              THEN substr(w.word, CAST(w.j - o.len + 2 AS INT),
                          CAST(o.len AS INT))
              ELSE substr(w.dists[CAST(w.j + 2 - o.len AS INT)], 13) || ' '
                   || substr(w.word, CAST(w.j - o.len + 2 AS INT),
                             CAST(o.len AS INT)) END))]
  FROM walk w JOIN opts e ON e.word = w.word AND e.endpos = w.j + 1
  WHERE w.j < length(w.word)
),
seg AS MATERIALIZED (
  SELECT word, n, dists[length(word) + 1] AS enc
  FROM walk WHERE j = length(word)
),
em AS MATERIALIZED (
  SELECT piece, CAST(sum(n) AS BIGINT) AS em_count
  FROM (SELECT n, unnest(string_split(substr(enc, 13), ' ')) AS piece
        FROM seg)
  GROUP BY piece
),
em_tot AS (SELECT CAST(sum(em_count) AS BIGINT) AS total FROM em)
SELECT v.sub AS piece, v.seed_weight, v.seed_cost_bits,
       coalesce(em.em_count, 0) AS em_count,
       CASE WHEN em.em_count IS NOT NULL
            THEN CAST(length(bin((SELECT total FROM em_tot) // em.em_count))
                      - 1 AS BIGINT)
            ELSE -1 END AS em_cost_bits,
       em.em_count IS NOT NULL AS survives
FROM vocab v LEFT JOIN em ON em.piece = v.sub
"""


@register(
    "unigram_lm_viterbi",
    oracle=_UNIGRAM_SQL,
    doc="Unigram-LM tokenizer hard-EM round (SentencePiece, Kudo 2018): "
    "substring-seeded piece vocabulary with integer surprisal costs, exact "
    "Viterbi segmentation of every word type via a fixed-width-encoded "
    "(cost, piece-count, path) total order, and the re-counted piece "
    "statistics with post-EM costs and survival — the step that prunes a "
    "seed vocabulary toward the final tokenizer",
    tags=("ext", "mining", "tokenizer"),
)
def unigram_lm_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the corpus is touched ONCE (token explode into the
    map-side-combined word TYPE table; Heaps' law bounds everything after).
    Candidates explode per type (O(len * {_UG_MAXLEN}) rows each), the
    vocabulary broadcasts into the cost attach, and the Viterbi DP is a
    single codegen'd ``aggregate`` fold per word — no joins, no state rows,
    no Python. The per-(word, end) option lists ride a word-keyed map
    column, so the whole segmentation stage is embarrassingly parallel
    over types."""
    docs = parallel_scan(spark, sf_dir, "documents")
    types = (
        docs.select(F.explode(F.expr(_SPARK_TOK)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)  # feeds cand AND the fold input
    )
    cand = types.select(
        "word",
        "n",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, length(word)), p ->"
                f" transform(sequence(1, least({_UG_MAXLEN},"
                f" length(word) - p + 1)),"
                f" l -> struct(cast(p as bigint) as pos,"
                f" cast(l as bigint) as len, substr(word, p, l) as sub))))"
            )
        ).alias("c"),
    ).select("word", "n", "c.*")
    cand = cand.localCheckpoint(eager=False)  # feeds vocab AND pc
    tot = _ug_total_from_types(types)
    vocab = (
        cand.groupBy("sub")
        .agg(F.sum("n").cast("long").alias("seed_weight"))
        .crossJoin(F.broadcast(tot))
        .filter(
            (1000 * F.col("seed_weight") >= _UG_REL_PPK * F.col("total"))
            | (F.length("sub") == 1)
        )
        .select(
            "sub",
            "seed_weight",
            F.expr("CAST(length(bin(total div seed_weight)) - 1 AS BIGINT)")
            .alias("seed_cost_bits"),
        )
    )
    vocab = vocab.localCheckpoint(eager=False)  # feeds pc AND the output
    pc = cand.join(F.broadcast(vocab), "sub").select(
        "word",
        (F.col("pos") + F.col("len") - 1).alias("endpos"),
        "len",
        F.col("seed_cost_bits").alias("cost"),
    )
    omap = (
        pc.groupBy("word", "endpos")
        .agg(F.collect_list(F.struct("len", "cost")).alias("opts"))
        .groupBy("word")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("endpos", "opts"))
            ).alias("om")
        )
    )
    seg = types.join(omap, "word").select(
        "n", F.expr(_ug_spark_fold()).alias("enc")
    )
    em = (
        seg.select(
            "n", F.explode(F.split(F.expr("substr(enc, 13)"), " ")).alias("piece")
        )
        .groupBy("piece")
        .agg(F.sum("n").cast("long").alias("em_count"))
    )
    em = em.localCheckpoint(eager=False)  # feeds em_tot AND the join
    em_tot = em.agg(F.sum("em_count").cast("long").alias("em_total"))
    return (
        vocab.join(em, vocab["sub"] == em["piece"], "left")
        .crossJoin(F.broadcast(em_tot))
        .select(
            F.col("sub").alias("piece"),
            "seed_weight",
            "seed_cost_bits",
            F.coalesce("em_count", F.lit(0)).cast("long").alias("em_count"),
            F.when(
                F.col("em_count").isNotNull(),
                F.expr("CAST(length(bin(em_total div em_count)) - 1 AS BIGINT)"),
            )
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("em_cost_bits"),
            F.col("em_count").isNotNull().alias("survives"),
        )
    )


# ---------------------------------------------------------------------------
# Unigram-LM round 2 — the M-step + re-segmentation that completes the
# hard-EM cycle: prune the seed vocabulary to Viterbi-used pieces (single
# chars always kept — dropping one can make a word unsegmentable),
# re-derive costs from the Laplace-smoothed EM counts, and Viterbi again.
# The emitted sheet is the convergence evidence a tokenizer-training run
# watches: corpus bits and pieces-per-word before/after, how many word
# types changed segmentation, and the vocabulary shrink.
# ---------------------------------------------------------------------------
def _ug_walk_sql(tag: str, opts_cte: str) -> str:
    """One recursive Viterbi walk (the round-1 walk, parameterized by the
    (word, endpos) -> options CTE) named ``walk_{tag}``."""
    d = f"w.dists[CAST(w.j + 2 - o.len AS INT)]"
    return f"""
walk_{tag}(word, n, j, dists) AS (
  SELECT word, n, 0, ['{"0" * 12}'] FROM types
  UNION ALL
  SELECT w.word, w.n, w.j + 1,
    w.dists || [list_min(list_transform(e.opts, o ->
      lpad(CAST(CAST(substr({d}, 1, 8) AS BIGINT) + o.cost AS VARCHAR), 8, '0')
      || lpad(CAST(CAST(substr({d}, 9, 4) AS BIGINT) + 1 AS VARCHAR), 4, '0')
      || CASE WHEN CAST(substr({d}, 9, 4) AS BIGINT) = 0
              THEN substr(w.word, CAST(w.j - o.len + 2 AS INT),
                          CAST(o.len AS INT))
              ELSE substr({d}, 13) || ' '
                   || substr(w.word, CAST(w.j - o.len + 2 AS INT),
                             CAST(o.len AS INT)) END))]
  FROM walk_{tag} w JOIN {opts_cte} e
    ON e.word = w.word AND e.endpos = w.j + 1
  WHERE w.j < length(w.word)
),
seg_{tag} AS MATERIALIZED (
  SELECT word, n, dists[length(word) + 1] AS enc
  FROM walk_{tag} WHERE j = length(word)
)"""


_UNIGRAM2_SQL = f"""
WITH RECURSIVE
tok AS (
  SELECT unnest({_DUCK_TOK}) AS word FROM documents
),
types AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY word
),
cand AS MATERIALIZED (
  SELECT word, n,
         unnest(flatten(list_transform(range(1, length(word) + 1), p ->
           list_transform(range(1, least({_UG_MAXLEN}, length(word) - p + 1) + 1),
             l -> struct_pack(pos := p, len := l,
                    sub := substr(word, CAST(p AS INT), CAST(l AS INT))))))) AS c
  FROM types
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cand),
vocab AS MATERIALIZED (
  SELECT c.sub AS sub, CAST(sum(n) AS BIGINT) AS seed_weight,
         CAST(length(bin((SELECT total FROM tot) // sum(n))) - 1 AS BIGINT)
           AS seed_cost_bits
  FROM cand
  GROUP BY c.sub
  HAVING 1000 * sum(n) >= {_UG_REL_PPK} * (SELECT total FROM tot)
      OR length(c.sub) = 1
),
opts1 AS MATERIALIZED (
  SELECT cc.word, cc.c.pos + cc.c.len - 1 AS endpos,
         list(struct_pack(len := cc.c.len, cost := v.seed_cost_bits)) AS opts
  FROM cand cc JOIN vocab v ON v.sub = cc.c.sub
  GROUP BY cc.word, cc.c.pos + cc.c.len - 1
),
{_ug_walk_sql("r1", "opts1")},
em AS MATERIALIZED (
  SELECT piece, CAST(sum(n) AS BIGINT) AS em_count
  FROM (SELECT n, unnest(string_split(substr(enc, 13), ' ')) AS piece
        FROM seg_r1)
  GROUP BY piece
),
vocab2 AS MATERIALIZED (
  SELECT v.sub, CAST(coalesce(em.em_count, 0) + 1 AS BIGINT) AS w1
  FROM vocab v LEFT JOIN em ON em.piece = v.sub
  WHERE em.em_count IS NOT NULL OR length(v.sub) = 1
),
tot2 AS (SELECT CAST(sum(w1) AS BIGINT) AS total FROM vocab2),
costs2 AS MATERIALIZED (
  SELECT sub, CAST(length(bin((SELECT total FROM tot2) // w1)) - 1 AS BIGINT)
           AS cost
  FROM vocab2
),
opts2 AS MATERIALIZED (
  SELECT cc.word, cc.c.pos + cc.c.len - 1 AS endpos,
         list(struct_pack(len := cc.c.len, cost := c2.cost)) AS opts
  FROM cand cc JOIN costs2 c2 ON c2.sub = cc.c.sub
  GROUP BY cc.word, cc.c.pos + cc.c.len - 1
),
{_ug_walk_sql("r2", "opts2")}
SELECT
  CAST((SELECT count(*) FROM types) AS BIGINT) AS n_word_types,
  CAST((SELECT count(*) FROM vocab) AS BIGINT) AS vocab_r1,
  CAST((SELECT count(*) FROM vocab2) AS BIGINT) AS vocab_r2,
  CAST(sum(s1.n * CAST(substr(s1.enc, 1, 8) AS BIGINT)) AS BIGINT)
    AS corpus_bits_r1,
  CAST(sum(s1.n * CAST(substr(s2.enc, 1, 8) AS BIGINT)) AS BIGINT)
    AS corpus_bits_r2,
  CAST(sum(s1.n * CAST(substr(s1.enc, 9, 4) AS BIGINT)) AS BIGINT)
    AS corpus_pieces_r1,
  CAST(sum(s1.n * CAST(substr(s2.enc, 9, 4) AS BIGINT)) AS BIGINT)
    AS corpus_pieces_r2,
  CAST(sum(CASE WHEN substr(s1.enc, 13) <> substr(s2.enc, 13)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_types_changed
FROM seg_r1 s1 JOIN seg_r2 s2 ON s2.word = s1.word
"""


@register(
    "unigram_lm_em2",
    oracle=_UNIGRAM2_SQL,
    doc="Unigram-LM hard-EM round 2: prune the seed vocabulary to Viterbi-"
    "used pieces (chars always kept), re-cost from Laplace-smoothed EM "
    "counts, re-segment — emitting the convergence sheet (corpus bits and "
    "pieces before/after, word types whose segmentation changed, vocab "
    "shrink) a tokenizer-training run watches per round",
    tags=("ext", "mining", "tokenizer", "bench"),
)
def unigram_lm_em2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: identical to round 1 twice over — the corpus is still
    touched ONCE (the word TYPE table feeds both rounds); each round's
    Viterbi is the single codegen'd ``aggregate`` fold per word with a
    different broadcast-derived cost map. The round-2 vocabulary derives
    from round-1 counts (Heaps-bounded), so the whole EM cycle is
    type-table arithmetic."""
    docs = parallel_scan(spark, sf_dir, "documents")
    types = (
        docs.select(F.explode(F.expr(_SPARK_TOK)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)
    )
    cand = types.select(
        "word",
        "n",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, length(word)), p ->"
                f" transform(sequence(1, least({_UG_MAXLEN},"
                f" length(word) - p + 1)),"
                f" l -> struct(cast(p as bigint) as pos,"
                f" cast(l as bigint) as len, substr(word, p, l) as sub))))"
            )
        ).alias("c"),
    ).select("word", "n", "c.*")
    cand = cand.localCheckpoint(eager=False)
    tot = _ug_total_from_types(types)
    vocab = (
        cand.groupBy("sub")
        .agg(F.sum("n").cast("long").alias("seed_weight"))
        .crossJoin(F.broadcast(tot))
        .filter(
            (1000 * F.col("seed_weight") >= _UG_REL_PPK * F.col("total"))
            | (F.length("sub") == 1)
        )
        .select(
            "sub",
            F.expr("CAST(length(bin(total div seed_weight)) - 1 AS BIGINT)")
            .alias("cost"),
        )
    )
    vocab = vocab.localCheckpoint(eager=False)

    def omap_for(costs):
        pc = cand.join(F.broadcast(costs), "sub").select(
            "word",
            (F.col("pos") + F.col("len") - 1).alias("endpos"),
            "len",
            "cost",
        )
        return (
            pc.groupBy("word", "endpos")
            .agg(F.collect_list(F.struct("len", "cost")).alias("opts"))
            .groupBy("word")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("endpos", "opts"))
                ).alias("om")
            )
        )

    seg1 = types.join(omap_for(vocab), "word").select(
        "word", "n", F.expr(_ug_spark_fold()).alias("enc")
    )
    seg1 = seg1.localCheckpoint(eager=False)  # feeds em AND the final join

    em = (
        seg1.select(
            "n",
            F.explode(F.split(F.expr("substr(enc, 13)"), " ")).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("n").cast("long").alias("em_count"))
    )
    vocab2 = (
        vocab.join(em, vocab["sub"] == em["piece"], "left")
        .filter(F.col("em_count").isNotNull() | (F.length("sub") == 1))
        .select("sub", (F.coalesce("em_count", F.lit(0)) + 1).alias("w1"))
    )
    vocab2 = vocab2.localCheckpoint(eager=False)  # feeds tot2 AND costs2
    tot2 = vocab2.agg(F.sum("w1").cast("long").alias("total2"))
    costs2 = vocab2.crossJoin(F.broadcast(tot2)).select(
        "sub",
        F.expr("CAST(length(bin(total2 div w1)) - 1 AS BIGINT)").alias(
            "cost"
        ),
    )
    seg2 = types.join(omap_for(costs2), "word").select(
        F.col("word").alias("word2"), F.expr(_ug_spark_fold()).alias("enc2")
    )

    joined = seg1.join(seg2, seg1["word"] == seg2["word2"])
    counts = (
        types.agg(F.count(F.lit(1)).cast("long").alias("n_word_types"))
        .crossJoin(
            F.broadcast(
                vocab.agg(F.count(F.lit(1)).cast("long").alias("vocab_r1"))
            )
        )
        .crossJoin(
            F.broadcast(
                vocab2.agg(F.count(F.lit(1)).cast("long").alias("vocab_r2"))
            )
        )
    )
    sums = joined.agg(
        F.sum(
            F.col("n") * F.expr("CAST(substr(enc, 1, 8) AS BIGINT)")
        )
        .cast("long")
        .alias("corpus_bits_r1"),
        F.sum(
            F.col("n") * F.expr("CAST(substr(enc2, 1, 8) AS BIGINT)")
        )
        .cast("long")
        .alias("corpus_bits_r2"),
        F.sum(
            F.col("n") * F.expr("CAST(substr(enc, 9, 4) AS BIGINT)")
        )
        .cast("long")
        .alias("corpus_pieces_r1"),
        F.sum(
            F.col("n") * F.expr("CAST(substr(enc2, 9, 4) AS BIGINT)")
        )
        .cast("long")
        .alias("corpus_pieces_r2"),
        F.sum(
            (
                F.expr("substr(enc, 13)") != F.expr("substr(enc2, 13)")
            ).cast("int")
        )
        .cast("long")
        .alias("n_types_changed"),
    )
    return counts.crossJoin(F.broadcast(sums)).select(
        "n_word_types",
        "vocab_r1",
        "vocab_r2",
        "corpus_bits_r1",
        "corpus_bits_r2",
        "corpus_pieces_r1",
        "corpus_pieces_r2",
        "n_types_changed",
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet: Extracting
# high quality monolingual datasets from web crawl data"): score every doc
# by bits-per-token under a LANGUAGE-CONDITIONED unigram LM fit on that
# language's own slice, then split each language into head/middle/tail
# perplexity terciles — the classic LM-quality partitioner (head feeds
# training, tail gets dropped or down-weighted). Costs are the exact
# floor-log2 integer-bits device, so scores and bucket boundaries are
# engine-identical.
# ---------------------------------------------------------------------------
_CCNET_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({_DUCK_TOK}) AS w FROM documents
),
cnt AS MATERIALIZED (
  SELECT lang, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY lang, w
),
tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY lang),
costs AS (
  SELECT c.lang, c.w,
         CAST(length(bin(t.t // c.c)) - 1 AS BIGINT) AS bits
  FROM cnt c JOIN tot t ON t.lang = c.lang
),
scored AS (
  SELECT k.doc_id, k.lang,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(1000000 * sum(co.bits) // count(*) AS BIGINT) AS micro_bits_per_token
  FROM tok k JOIN costs co ON co.lang = k.lang AND co.w = k.w
  GROUP BY k.doc_id, k.lang
),
bucketed AS (
  SELECT doc_id, lang, n_tokens, micro_bits_per_token,
         ntile(3) OVER (PARTITION BY lang
                        ORDER BY micro_bits_per_token, doc_id) AS tercile
  FROM scored
)
SELECT doc_id, lang, n_tokens, micro_bits_per_token,
       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS ppl_bucket
FROM bucketed
"""


@register(
    "ccnet_perplexity_buckets",
    oracle=_CCNET_SQL,
    doc="CCNet bucketing (Wenzek et al. 2020): per-doc bits-per-token under "
    "a language-conditioned unigram LM (exact floor-log2 integer bits), "
    "split into head/middle/tail perplexity terciles WITHIN each language "
    "— the LM-quality partitioner that decides what web-crawl text trains",
    tags=("ext", "mining", "curation", "quality"),
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the LM is the Heaps-bounded (lang, token) TYPE table
    (one keyed aggregation with map-side partials); scoring re-joins the
    token stream against it on (lang, token) and folds per doc. The
    tercile window partitions by LANGUAGE — at 100 TB each language's
    scored-doc relation is narrow (3 ints per doc) and CCNet itself
    computes these cutoffs offline per language; an approximate-percentile
    cutoff swap is the documented escape hatch if a single language's doc
    count outgrows a partition sort."""
    from pyspark.sql import Window

    docs = parallel_scan(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.expr(_SPARK_TOK)).alias("w")
    ).localCheckpoint(eager=False)  # feeds the count pass AND the scoring pass
    cnt = tok.groupBy("lang", "w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = cnt.groupBy("lang").agg(F.sum("c").cast("long").alias("t"))
    costs = cnt.join(F.broadcast(tot), "lang").select(
        "lang",
        "w",
        F.expr("CAST(length(bin(t div c)) - 1 AS BIGINT)").alias("bits"),
    )
    scored = (
        tok.join(costs, ["lang", "w"])
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.expr(
                "CAST(1000000 * sum(bits) div count(*) AS BIGINT)"
            ).alias("micro_bits_per_token"),
        )
    )
    tercile = F.ntile(3).over(
        Window.partitionBy("lang").orderBy("micro_bits_per_token", "doc_id")
    )
    return scored.withColumn("tercile", tercile).select(
        "doc_id",
        "lang",
        "n_tokens",
        "micro_bits_per_token",
        F.expr(
            "CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'"
            " ELSE 'tail' END"
        ).alias("ppl_bucket"),
    )
