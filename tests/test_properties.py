"""Property-based semantic pins (hypothesis) against independent oracles:

- asof_join vs pandas.merge_asof (independent reference implementation),
- the CloudWatch alarm pipeline (grid + treat-missing + N-of-M + transitions)
  and the per-period ``step`` it shares with the streaming alarms, both vs a
  direct Python state-machine model.

Example counts are kept small: each example drives real Spark jobs.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from amazon_kinesis_data_streams_health_check_spark.operators.alarm import (
    AlarmConfig,
    evaluate_alarm,
    step,
    with_period_grid,
)
from amazon_kinesis_data_streams_health_check_spark.operators.temporal import asof_join

UTC = dt.timezone.utc
T0 = dt.datetime(2024, 1, 1, tzinfo=UTC)


def _t(minutes: int) -> dt.datetime:
    return T0 + dt.timedelta(minutes=minutes)


# ---------------------------------------------------------------------------
# asof_join == pandas merge_asof
# ---------------------------------------------------------------------------
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    left=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 50)),
        min_size=1,
        max_size=12,
    ),
    right=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 50)),
        max_size=12,
        unique=True,  # unique (key, ts): ties among identical right rows are
    ),             # resolved by pre-dedup in real queries
)
def test_asof_matches_pandas_merge_asof(spark, left, right):
    ldf = spark.createDataFrame(
        [(k, _t(m), i) for i, (k, m) in enumerate(left)],
        "k string, ts timestamp, lid long",
    )
    rdf = spark.createDataFrame(
        [(k, _t(m), i) for i, (k, m) in enumerate(right)],
        "k string, ts timestamp, rid long",
    ) if right else spark.createDataFrame([], "k string, ts timestamp, rid long")

    got = {
        r.lid: r.asof_rid
        for r in asof_join(ldf, rdf, on=["k"], right_cols=["rid"]).collect()
    }

    lp = pd.DataFrame(
        {"k": [k for k, _ in left], "ts": [_t(m) for _, m in left],
         "lid": range(len(left))}
    ).sort_values("ts", kind="stable")
    rp = pd.DataFrame(
        {"k": [k for k, _ in right], "ts": [_t(m) for _, m in right],
         "rid": range(len(right))}
    ).sort_values("ts", kind="stable")
    if rp.empty:
        expected = {lid: None for lid in lp["lid"]}
    else:
        m = pd.merge_asof(
            lp, rp, on="ts", by="k", direction="backward", allow_exact_matches=True
        )
        expected = {
            int(row.lid): (None if pd.isna(row.rid) else int(row.rid))
            for row in m.itertuples()
        }
    assert got == expected


# ---------------------------------------------------------------------------
# alarm pipeline == Python state-machine model
# ---------------------------------------------------------------------------
def _alarm_model(observed, threshold, M, N, policy):
    lo, hi = min(observed), max(observed)
    out = {}
    last_resolved = None
    prev = None
    for t in range(lo, hi + 1):
        breaches = present = 0
        for u in range(t - M + 1, t + 1):
            if u < lo or u > hi:
                continue
            v = observed.get(u)
            if v is None:
                if policy == "breaching":
                    breaches += 1
            else:
                present += 1
                if v > threshold:
                    breaches += 1
        raw = "ALARM" if breaches >= N else "OK"
        if policy == "missing" and present == 0:
            state = "INSUFFICIENT_DATA"
        elif policy == "ignore":
            if observed.get(t) is not None:
                # Evaluate over the most recent M PRESENT datapoints
                # (missing periods neither vote nor occupy slots).
                recent = [
                    observed[u]
                    for u in range(lo, t + 1)
                    if observed.get(u) is not None
                ][-M:]
                raw_p = "ALARM" if sum(1 for v in recent if v > threshold) >= N else "OK"
                last_resolved = raw_p
                state = raw_p
            else:
                state = last_resolved if last_resolved is not None else "OK"
        else:
            state = raw
        out[t] = (state, prev, prev is not None and state != prev)
        prev = state
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    points=st.dictionaries(
        st.integers(0, 12), st.sampled_from([0.5, 1.5, 3.0]), min_size=1, max_size=8
    ),
    m=st.integers(1, 3),
    policy=st.sampled_from(["breaching", "notBreaching", "ignore", "missing"]),
    data=st.data(),
)
def test_alarm_matches_model(spark, points, m, policy, data):
    n = data.draw(st.integers(1, m))
    metrics = spark.createDataFrame(
        [("s", _t(i), _t(i + 1), float(v), 1) for i, v in points.items()],
        "stream_name string, window_start timestamp, window_end timestamp, "
        "max_value double, n_datapoints long",
    )
    evaluated = evaluate_alarm(
        with_period_grid(metrics),
        threshold=1.0,
        treat_missing=policy,
        evaluation_periods=m,
        datapoints_to_alarm=n,
    )
    got = {
        int((r.window_start.replace(tzinfo=UTC) - T0).total_seconds() // 60): (
            r.state,
            r.prev_state,
            bool(r.transitioned),
        )
        for r in evaluated.collect()
    }
    assert got == _alarm_model(points, 1.0, m, n, policy)


@settings(max_examples=300, deadline=None)
@given(
    points=st.dictionaries(
        st.integers(0, 12), st.sampled_from([0.5, 1.0, 1.5, 3.0]), min_size=1, max_size=10
    ),
    m=st.integers(1, 4),
    policy=st.sampled_from(["breaching", "notBreaching", "ignore", "missing"]),
    data=st.data(),
)
def test_alarm_step_fold_matches_model(points, m, policy, data):
    """Spark-free: ``step`` folded over the period grid is the same machine
    as the model (and so as ``evaluate_alarm``), prev_state included."""
    n = data.draw(st.integers(1, m))
    cfg = AlarmConfig(1.0, evaluation_periods=m, datapoints_to_alarm=n, missing_data=policy)
    got, state, window = {}, None, []
    for t in range(min(points), max(points) + 1):
        prev = state
        state, window, moved = step(prev, window, points.get(t), cfg)
        got[t] = (state, prev, moved)
    assert got == _alarm_model(points, 1.0, m, n, policy)


# ---------------------------------------------------------------------------
# Curation operators vs direct Python models.
# ---------------------------------------------------------------------------
import hashlib


def _md5_u32(key) -> int:
    return int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    docs=st.lists(
        st.tuples(st.integers(0, 10_000), st.sampled_from(["en", "zh", "xx"])),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
    rates=st.fixed_dictionaries(
        {"en": st.integers(0, 100), "zh": st.integers(0, 100)}
    ),
)
def test_stratified_sample_matches_python_model(spark, docs, rates):
    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        stratified_sample,
    )

    df = spark.createDataFrame(docs, "doc_id long, lang string")
    got = {r.doc_id for r in stratified_sample(df, "lang", "doc_id", rates).collect()}
    want = {
        d
        for d, lang in docs
        if _md5_u32(d) * 100 < rates.get(lang, 0) * 4_294_967_296
    }
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    docs=st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(1, 700)),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    budget=st.sampled_from([64, 256, 1000]),
)
def test_pack_sequences_matches_python_model(spark, docs, budget):
    """Packing == greedy cumsum binning over the md5-shuffled order, per the
    direct model; bins are dense from 0 and tokens are conserved."""
    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        pack_sequences,
    )

    df = spark.createDataFrame(
        [(d, "s", t) for d, t in docs], "doc_id long, source string, n_tokens long"
    )
    got = {r.doc_id: r.bin for r in pack_sequences(df, budget).collect()}

    order = sorted(docs, key=lambda t: (_md5_u32(t[0]), t[0]))
    cum, want = 0, {}
    for d, tok in order:
        cum += tok
        want[d] = (cum - 1) // budget
    assert got == want


# ---------------------------------------------------------------------------
# repetition_stats == direct Counter model over generated corpora
# ---------------------------------------------------------------------------
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["spark", "row", "scan", "agg", "a"]),
            min_size=0,
            max_size=12,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_repetition_stats_matches_counter_model(spark, tmp_path_factory, texts):
    import collections
    import re

    from amazon_kinesis_data_streams_health_check_spark.plans.registry import get

    sf_dir = str(tmp_path_factory.mktemp("repcorpus"))
    rows = [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    got = {
        r["doc_id"]: r.asDict()
        for r in get("repetition_stats").builder(spark, sf_dir).collect()
    }
    assert set(got) == set(range(len(texts)))
    for i, t in enumerate(texts):
        toks = re.findall("[a-z0-9]+", t.lower())
        g2 = collections.Counter(
            " ".join(toks[j : j + 2]) for j in range(len(toks) - 1)
        )
        g3 = collections.Counter(
            " ".join(toks[j : j + 3]) for j in range(len(toks) - 2)
        )
        n2, n3 = sum(g2.values()), sum(g3.values())
        row = got[i]
        assert row["n_tokens"] == len(toks)
        assert row["n_2grams"] == n2
        assert row["n_distinct_2grams"] == len(g2)
        assert row["top_2gram_n"] == (max(g2.values()) if g2 else 0)
        assert row["dup_2gram_frac"] == (
            round((n2 - len(g2)) / n2, 6) if n2 else 0.0
        )
        assert row["top_2gram_frac"] == (
            round(max(g2.values()) / n2, 6) if g2 else 0.0
        )
        assert row["dup_3gram_frac"] == (
            round((n3 - len(g3)) / n3, 6) if n3 else 0.0
        )


# ---------------------------------------------------------------------------
# AllPairs prefix filtering == Python brute force (losslessness property)
# ---------------------------------------------------------------------------
_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]


def _py_shingles(text: str, n: int = 3) -> set[str]:
    import re as _re

    toks = _re.findall(r"[a-z0-9]+", text.lower())
    upper = max(len(toks) - (n - 1), 1)
    return {" ".join(toks[i : i + n]) for i in range(upper)}


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=1, max_size=10).map(" ".join),
        min_size=2,
        max_size=10,
    )
)
def test_jaccard_allpairs_prefix_filter_is_lossless(spark, docs):
    """The prefix filter must generate EVERY pair at Jaccard >= 1/2 — the
    losslessness theorem checked against a brute-force Python model on
    adversarially small token sets (where prefixes are shortest)."""
    from amazon_kinesis_data_streams_health_check_spark.operators.dedup import (
        jaccard_allpairs_pairs,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in jaccard_allpairs_pairs(df, t_num=1, t_den=2).collect()
    }
    sh = [_py_shingles(t) for t in docs]
    want = {
        (a, b)
        for a in range(len(docs))
        for b in range(a + 1, len(docs))
        if 2 * len(sh[a] & sh[b]) >= len(sh[a] | sh[b])
    }
    assert got == want


# ---------------------------------------------------------------------------
# Suffix-array exact-substring dedup == brute-force all-pairs LCP model
# ---------------------------------------------------------------------------
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    docs=st.lists(
        # Tiny vocab + lengths past the 8-token anchor => dense shared
        # 8-grams, exercising full-window ties, mid-shingle divergence, and
        # the 32-token cap.
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=45).map(
            " ".join
        ),
        min_size=1,
        max_size=5,
    )
)
def test_exact_substring_matches_bruteforce_lcp(spark, tmp_path_factory, docs):
    """The anchor-group + sorted-neighbor-LCP formulation must equal the
    brute-force model: for every suffix, the max token-LCP (capped at 32)
    against EVERY other corpus suffix sharing its leading 8-gram — the
    suffix-array property the distributed query relies on."""
    import re as _re

    from amazon_kinesis_data_streams_health_check_spark.plans.registry import get

    sf_dir = str(tmp_path_factory.mktemp("sfxcorpus"))
    rows = [(i, t, "en", "src0", len(t)) for i, t in enumerate(docs)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    got = {
        r["doc_id"]: r.asDict()
        for r in get("dedup_exact_substring").builder(spark, sf_dir).collect()
    }
    assert set(got) == set(range(len(docs)))

    toks = [_re.findall(r"[a-z0-9]+", t.lower()) for t in docs]
    sfx = [
        (d, p, tuple(ts[p : p + 8]), tuple(ts[p : p + 32]))
        for d, ts in enumerate(toks)
        if len(ts) >= 8
        for p in range(len(ts) - 7)
    ]

    def lcp(a, b):
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        return n

    for d, ts in enumerate(toks):
        maxdups = [
            max(
                (
                    lcp(ext, e2)
                    for d2, p2, a2, e2 in sfx
                    if a2 == anchor and (d2, p2) != (d, p)
                ),
                default=0,
            )
            for dd, p, anchor, ext in sfx
            if dd == d
        ]
        n_pos = len(ts) - 7
        row = got[d]
        assert row["n_tokens"] == len(ts)
        assert row["longest_dup_tokens"] == (max(maxdups) if maxdups else 0)
        n_dup = sum(1 for m in maxdups if m >= 16)
        assert row["n_dup_positions"] == n_dup
        assert row["dup_pos_frac"] == (
            round(n_dup / n_pos, 6) if len(ts) >= 8 else 0.0
        )

    # The scrub plan on the same corpus: merged cover intervals == the
    # brute-force union of [p, p+maxdup) for every position with a
    # >=16-token run.
    scrub = {
        r["doc_id"]: r.asDict()
        for r in get("exact_substring_scrub").builder(spark, sf_dir).collect()
    }
    assert set(scrub) == set(range(len(docs)))
    for d, ts in enumerate(toks):
        covers = sorted(
            (p, p + m)
            for (dd, p, anchor, ext), m in [
                (
                    s,
                    max(
                        (
                            lcp(s[3], e2)
                            for d2, p2, a2, e2 in sfx
                            if a2 == s[2] and (d2, p2) != (s[0], s[1])
                        ),
                        default=0,
                    ),
                )
                for s in sfx
                if s[0] == d
            ]
            if m >= 16
        )
        merged: list[list[int]] = []
        for p, e in covers:
            if merged and p <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([p, e])
        cut = sum(e - p for p, e in merged)
        row = scrub[d]
        assert row["n_cut_spans"] == len(merged), (d, merged, row)
        assert row["tokens_cut"] == cut
        assert row["tokens_kept"] == len(ts) - cut
        assert row["cut_frac"] == (
            round(cut / len(ts), 6) if ts else 0.0
        )

    # The ingest probe on the same corpus: odd docs scored against the
    # persisted EVEN-doc suffix index only.
    pr = {
        r["doc_id"]: r.asDict()
        for r in get("exact_substring_ingest_probe")
        .builder(spark, sf_dir)
        .collect()
    }
    odd = [d for d in range(len(docs)) if d % 2 == 1]
    assert set(pr) == set(odd)
    for d in odd:
        ts = toks[d]
        maxdups = [
            max(
                (
                    lcp(ext, e2)
                    for d2, p2, a2, e2 in sfx
                    if a2 == anchor and d2 % 2 == 0
                ),
                default=0,
            )
            for dd, p, anchor, ext in sfx
            if dd == d
        ]
        row = pr[d]
        assert row["n_tokens"] == len(ts)
        assert row["longest_hist_dup"] == (max(maxdups) if maxdups else 0)
        n_dup = sum(1 for m in maxdups if m >= 16)
        assert row["n_hist_dup_positions"] == n_dup
        assert row["hist_dup_frac"] == (
            round(n_dup / (len(ts) - 7), 6) if len(ts) >= 8 else 0.0
        )


# ---------------------------------------------------------------------------
# Isotonic fit (interval-average minimax) == classic sequential PAV model
# ---------------------------------------------------------------------------
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    bins=st.lists(
        st.tuples(st.integers(0, 20), st.integers(1, 9)),  # (num<=den), den
        min_size=1,
        max_size=9,
    )
)
def test_isotonic_fit_matches_sequential_pav(spark, bins):
    """The minimax closed form must equal the textbook sequential
    pool-adjacent-violators algorithm on every weighted input — including
    already-monotone curves (identity) and fully-reversed ones (one pool)."""
    from amazon_kinesis_data_streams_health_check_spark.operators.calibrate import (
        isotonic_fit,
    )

    rows = [(i, min(c, d), d) for i, (c, d) in enumerate(bins)]
    df = spark.createDataFrame(rows, "k long, num long, den long")
    got = {
        r.k: r.iso_avg for r in isotonic_fit(df, "k", "num", "den").collect()
    }

    # Sequential PAV on exact fractions, one block list pass.
    blocks = [
        (float(num), float(den)) for _, num, den in rows
    ]  # (sum_num, sum_den) per block, in key order
    stack: list[list[float]] = []
    for n, d in blocks:
        stack.append([n, d, 1])  # num, den, width
        while len(stack) >= 2 and (
            stack[-2][0] * stack[-1][1] >= stack[-1][0] * stack[-2][1]
            and not (
                stack[-2][0] * stack[-1][1] == stack[-1][0] * stack[-2][1]
            )
        ):
            b = stack.pop()
            stack[-1][0] += b[0]
            stack[-1][1] += b[1]
            stack[-1][2] += b[2]
    want: list[float] = []
    for n, d, w in stack:
        want.extend([n / d] * int(w))
    for i, _ in enumerate(rows):
        assert abs(got[i] - want[i]) < 1e-12, (i, got, want)


# ---------------------------------------------------------------------------
# Bradley-Terry fixed-point MM == float MM (quantization-only divergence)
# ---------------------------------------------------------------------------
@settings(max_examples=15, deadline=None)
@given(
    ms=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30), st.integers(0, 5)),
        min_size=1,
        max_size=6,
    )
)
def test_bt_fixed_point_matches_float_mm(ms):
    """The 1e-6 fixed-point MM must track a plain float implementation of
    the same smoothed update, iteration for iteration, to within
    quantization error — pinning the integer scaling/floor arithmetic."""
    from amazon_kinesis_data_streams_health_check_spark.plans.behavior_queries import (
        _BT_ITERS,
        _BT_SCALE,
        _bt_fixed_point,
    )

    items = ["a", "b", "c", "d"]
    matchups = []
    seen = set()
    for wa, wb, pair_idx in ms:
        pairs = [(x, y) for i, x in enumerate(items) for y in items[i + 1 :]]
        a, b = pairs[pair_idx % len(pairs)]
        if (a, b) in seen:
            continue
        seen.add((a, b))
        matchups.append((a, b, wa + wb, wa, wb))

    got = _bt_fixed_point(matchups)

    pairs = []
    for a, b, n, wa, wb in matchups:
        pairs.append((a, b, wa + 1.0, n + 2.0))
        pairs.append((b, a, wb + 1.0, n + 2.0))
    its = sorted({i for i, _, _, _ in pairs})
    p = {i: 1.0 for i in its}
    for _ in range(_BT_ITERS):
        denom = {i: 0.0 for i in its}
        wins = {i: 0.0 for i in its}
        for i, j, w, n in pairs:
            denom[i] += n / (p[i] + p[j])
            wins[i] += w
        praw = {i: wins[i] / denom[i] for i in its}
        s = sum(praw.values())
        p = {i: praw[i] * len(its) / s for i in its}

    assert set(got) == set(its)
    total = sum(got.values())
    assert abs(total - len(its) * _BT_SCALE) <= 2 * len(its)  # floor slack
    for i in its:
        assert got[i] >= 1
        assert abs(got[i] / _BT_SCALE - p[i]) < 1e-3 * max(1.0, p[i]), (
            i,
            got,
            p,
        )


def test_bt_separated_example_ranks_correctly():
    """c beats everyone, a loses to everyone -> strengths must order
    c > b > a with P(c beats a) clearly above 1/2."""
    from amazon_kinesis_data_streams_health_check_spark.plans.behavior_queries import (
        _bt_fixed_point,
    )

    got = _bt_fixed_point(
        [("a", "b", 10, 2, 8), ("a", "c", 10, 1, 9), ("b", "c", 10, 3, 7)]
    )
    assert got["c"] > got["b"] > got["a"]
    p_c_beats_a = got["c"] / (got["c"] + got["a"])
    assert p_c_beats_a > 0.75


# ---------------------------------------------------------------------------
# Unigram-LM hard-EM round == brute-force Python pipeline model
# ---------------------------------------------------------------------------
@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["aba", "abab", "bb", "a", "cabab", "ccc"]),
            min_size=1,
            max_size=8,
        ).map(" ".join),
        min_size=1,
        max_size=5,
    )
)
def test_unigram_lm_matches_python_model(spark, tmp_path_factory, texts):
    """Seed vocabulary, integer costs, Viterbi with the (cost, piece count,
    path) total order, and hard-EM recounts — all re-derived independently
    in plain Python and compared piece for piece."""
    import math
    import re as _re

    from amazon_kinesis_data_streams_health_check_spark.plans.mining_queries import (
        _UG_MAXLEN,
        _UG_REL_PPK,
    )
    from amazon_kinesis_data_streams_health_check_spark.plans.registry import get

    sf_dir = str(tmp_path_factory.mktemp("ugcorpus"))
    rows = [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    got = {
        r["piece"]: r.asDict()
        for r in get("unigram_lm_viterbi").builder(spark, sf_dir).collect()
    }

    # Model: word types -> candidates -> vocab/costs -> Viterbi -> EM.
    wcount: dict[str, int] = {}
    for t in texts:
        for w in _re.findall(r"[a-z0-9]+", t.lower()):
            wcount[w] = wcount.get(w, 0) + 1
    weight: dict[str, int] = {}
    total = 0
    for w, n in wcount.items():
        for p in range(len(w)):
            for l in range(1, min(_UG_MAXLEN, len(w) - p) + 1):
                weight[w[p : p + l]] = weight.get(w[p : p + l], 0) + n
                total += n
    vocab = {
        s: (wt, int(math.log2(total // wt)))
        for s, wt in weight.items()
        if 1000 * wt >= _UG_REL_PPK * total or len(s) == 1
    }

    def viterbi(w: str) -> list[str]:
        dist = ["%08d%04d" % (0, 0)]
        for j in range(1, len(w) + 1):
            cands = []
            for l in range(1, min(_UG_MAXLEN, j) + 1):
                piece = w[j - l : j]
                if piece not in vocab:
                    continue
                prev = dist[j - l]
                cost = int(prev[:8]) + vocab[piece][1]
                np_ = int(prev[8:12]) + 1
                path = piece if int(prev[8:12]) == 0 else prev[12:] + " " + piece
                cands.append("%08d%04d%s" % (cost, np_, path))
            dist.append(min(cands))
        return dist[len(w)][12:].split(" ")

    em: dict[str, int] = {}
    for w, n in wcount.items():
        for piece in viterbi(w):
            em[piece] = em.get(piece, 0) + n
    em_total = sum(em.values())

    assert set(got) == set(vocab)
    for s, (wt, cost) in vocab.items():
        row = got[s]
        assert row["seed_weight"] == wt
        assert row["seed_cost_bits"] == cost
        assert row["em_count"] == em.get(s, 0), (s, row, em)
        assert row["survives"] == (s in em)
        want_cost = int(math.log2(em_total // em[s])) if s in em else -1
        assert row["em_cost_bits"] == want_cost


# ---------------------------------------------------------------------------
# Journey Markov surprisal == Python counter model
# ---------------------------------------------------------------------------
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    evs=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500),
                  st.sampled_from(["view", "click", "purchase"])),
        min_size=2,
        max_size=30,
    )
)
def test_journey_surprisal_matches_python_model(spark, tmp_path_factory, evs):
    import math

    from amazon_kinesis_data_streams_health_check_spark.plans.registry import get

    tmpdir = str(tmp_path_factory.mktemp("jms"))
    rows = [
        (i, u, k, T0 + dt.timedelta(minutes=m), 1.0)
        for i, (u, m, k) in enumerate(evs)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts timestamp, value double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/events.parquet")

    got = {
        r.user_id: (r.n_transitions, r.sum_bits, r.score_micro_bits)
        for r in get("journey_markov_surprisal").builder(spark, tmpdir).collect()
    }

    by_user: dict[int, list] = {}
    for i, (u, m, k) in enumerate(evs):
        by_user.setdefault(u, []).append((m, i, k))
    edges: dict[tuple, int] = {}
    trans: dict[int, list] = {}
    for u, items in by_user.items():
        seq = [k for _, _, k in sorted(items)]
        for a, b in zip(seq, seq[1:]):
            edges[(a, b)] = edges.get((a, b), 0) + 1
            trans.setdefault(u, []).append((a, b))
    row_tot: dict[str, int] = {}
    for (a, _), c in edges.items():
        row_tot[a] = row_tot.get(a, 0) + c
    want = {}
    for u, ts_ in trans.items():
        bits = [int(math.log2(row_tot[a] // edges[(a, b)])) for a, b in ts_]
        want[u] = (len(bits), sum(bits), 10**6 * sum(bits) // len(bits))
    assert got == want


# ---------------------------------------------------------------------------
# Domain MW reweight == Python integer model
# ---------------------------------------------------------------------------
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(
        st.tuples(
            st.sampled_from(["s0", "s1", "s2"]),
            st.lists(
                st.sampled_from(["aa", "bb", "cc", "dd", "rare1", "rare2"]),
                min_size=1,
                max_size=10,
            ).map(" ".join),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_domain_mw_reweight_matches_python_model(spark, tmp_path_factory, texts):
    import math
    import re as _re

    from amazon_kinesis_data_streams_health_check_spark.plans.curation_queries import (
        _MW_ETA_DIV,
        _MW_MULT_MAX,
        _MW_MULT_MIN,
    )
    from amazon_kinesis_data_streams_health_check_spark.plans.registry import get

    sf_dir = str(tmp_path_factory.mktemp("mwcorpus"))
    rows = [(i, t, "en", s, len(t)) for i, (s, t) in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    got = {
        r.source: r.asDict()
        for r in get("domain_mw_reweight").builder(spark, sf_dir).collect()
    }

    vocab: dict[str, int] = {}
    toks = [(s, _re.findall(r"[a-z0-9]+", t.lower())) for s, t in texts]
    for _, ts_ in toks:
        for t in ts_:
            vocab[t] = vocab.get(t, 0) + 1
    total = sum(vocab.values())
    per: dict[str, list[int]] = {}
    for s, ts_ in toks:
        per.setdefault(s, []).extend(
            int(math.log2(total // vocab[t])) for t in ts_
        )
    all_tokens = sum(len(v) for v in per.values())
    g_micro = 10**6 * sum(sum(v) for v in per.values()) // all_tokens
    stepped = {}
    for s, bits in per.items():
        mean = 10**6 * sum(bits) // len(bits)
        excess = mean - g_micro
        # Python // floors toward -inf; SQL div truncates toward 0.
        eta_term = abs(excess) // _MW_ETA_DIV * (1 if excess >= 0 else -1)
        mult = max(_MW_MULT_MIN, min(_MW_MULT_MAX, 10**6 + eta_term))
        stepped[s] = (len(bits), mean, excess, mult)
    z = sum(
        (10**6 * n // all_tokens) * mult for n, _, _, mult in stepped.values()
    )
    for s, (n, mean, excess, mult) in stepped.items():
        row = got[s]
        share = 10**6 * n // all_tokens
        assert row["n_tokens"] == n
        assert row["token_share_ppm"] == share
        assert row["mean_micro_bits"] == mean
        assert row["excess_micro_bits"] == excess
        assert row["mult_ppm"] == mult, (s, row, stepped)
        assert row["new_weight_ppm"] == share * mult * 10**6 // z


# ---------------------------------------------------------------------------
# Label propagation == Python synchronous-LPA model
# ---------------------------------------------------------------------------
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    raw_edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=1,
        max_size=16,
    ),
    iters=st.integers(1, 3),
)
def test_label_propagation_matches_python_model(spark, raw_edges, iters):
    """Synchronous rounds, neighbor-majority labels, min-label ties —
    against a direct Python model on random small graphs (self-loops and
    isolated nodes included)."""
    from amazon_kinesis_data_streams_health_check_spark.operators.curation import (
        label_propagation,
    )

    nodes = sorted({v for e in raw_edges for v in e})
    sym = sorted({(a, b) for a, b in raw_edges} | {(b, a) for a, b in raw_edges})
    edf = spark.createDataFrame(sym, "src long, dst long")
    ndf = spark.createDataFrame([(v,) for v in nodes], "vec_id long")
    got = {
        r.vec_id: r.label
        for r in label_propagation(edf, ndf, iterations=iters).collect()
    }

    lab = {v: v for v in nodes}
    for _ in range(iters):
        new = {}
        for v in nodes:
            votes: dict[int, int] = {}
            for a, b in sym:
                if b == v:
                    votes[lab[a]] = votes.get(lab[a], 0) + 1
            if votes:
                new[v] = min(
                    votes, key=lambda l: (-votes[l], l)
                )
            else:
                new[v] = lab[v]
        lab = new
    assert got == lab


# ---------------------------------------------------------------------------
# MMR diversified top-k == Python greedy model
# ---------------------------------------------------------------------------
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    vecs=st.lists(
        st.lists(
            st.integers(-3, 3).map(float), min_size=4, max_size=4
        ).filter(lambda v: any(x != 0 for x in v)),
        min_size=3,
        max_size=14,
    )
)
def test_mmr_matches_python_greedy(spark, tmp_path_factory, vecs):
    """The unrolled greedy picks must equal a direct Python MMR over the
    same pool, including float score near-ties (ordered-fold doubles are
    engine-identical, so the tie-break id path is exercised for real on
    duplicate vectors)."""
    import math

    from amazon_kinesis_data_streams_health_check_spark.plans.corpus_queries import (
        _MMR_K,
        _MMR_POOL,
        _MMR_QUERIES,
    )
    from amazon_kinesis_data_streams_health_check_spark.plans.registry import get

    sf_dir = str(tmp_path_factory.mktemp("mmremb"))
    rows = [(i, v, 0) for i, v in enumerate(vecs)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/embeddings.parquet")

    got = {
        (r.query_id, r.mmr_rank): (r.vec_id, r.mmr_score)
        for r in get("mmr_diversified_topk").builder(spark, sf_dir).collect()
    }

    f32 = [[float(__import__("numpy").float32(x)) for x in v] for v in vecs]

    def cos(a, b):
        dot = 0.0
        for x, y in zip(f32[a], f32[b]):
            dot += x * y
        na = 0.0
        nb = 0.0
        for x in f32[a]:
            na += x * x
        for y in f32[b]:
            nb += y * y
        return dot / math.sqrt(na * nb)

    want = {}
    for q in range(min(_MMR_QUERIES, len(vecs))):
        pool = sorted(
            (i for i in range(len(vecs)) if i != q),
            key=lambda i: (-cos(q, i), i),
        )[:_MMR_POOL]
        selected: list[int] = []
        for rank in range(1, min(_MMR_K, len(pool)) + 1):
            remaining = [c for c in pool if c not in selected]
            if not remaining:
                break
            if not selected:
                scores = {c: cos(q, c) for c in remaining}
            else:
                scores = {
                    c: 0.5 * cos(q, c)
                    - 0.5 * max(cos(c, s) for s in selected)
                    for c in remaining
                }
            pickc = min(remaining, key=lambda c: (-scores[c], c))
            selected.append(pickc)
            want[(q, rank)] = (pickc, round(scores[pickc], 6))
    assert got == want


# ---------------------------------------------------------------------------
# Absorbing-funnel fixed point == float sweep + closed-form example
# ---------------------------------------------------------------------------
@settings(max_examples=12, deadline=None)
@given(
    edges=st.dictionaries(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.sampled_from(["a", "b", "c", "purchase"]),
        ),
        st.integers(1, 20),
        min_size=1,
        max_size=10,
    )
)
def test_absorbing_sweep_matches_float_iteration(edges):
    from amazon_kinesis_data_streams_health_check_spark.plans.behavior_queries import (
        _ABSORB_ITERS,
        _ABSORB_SCALE,
        _absorb_fixed_point,
    )

    rt = {}
    for (s, _), c in edges.items():
        rt[s] = rt.get(s, 0) + c
    q = {
        (s, d): _ABSORB_SCALE * c // rt[s] for (s, d), c in edges.items()
    }
    got = _absorb_fixed_point(q)

    states = sorted(rt)
    t = {s: 0.0 for s in states}
    a = {s: 0.0 for s in states}
    for _ in range(_ABSORB_ITERS):
        nt, na = {}, {}
        for s in states:
            nt[s] = 1.0 + sum(
                (p / _ABSORB_SCALE) * t.get(d, 0.0)
                for (src, d), p in q.items()
                if src == s and d != "purchase"
            )
            na[s] = sum(
                (p / _ABSORB_SCALE)
                * (1.0 if d == "purchase" else a.get(d, 0.0))
                for (src, d), p in q.items()
                if src == s
            )
        t, a = nt, na
    for s in states:
        t_micro, a_ppm = got[s]
        assert 0 <= a_ppm <= _ABSORB_SCALE
        assert abs(t_micro / _ABSORB_SCALE - t[s]) < 1e-3 * max(1.0, t[s])
        assert abs(a_ppm / _ABSORB_SCALE - a[s]) < 1e-3


def test_absorbing_sweep_closed_form_self_loop():
    """A -> purchase w.p. 1/2, A -> A w.p. 1/2: truncated absorption
    1 - 2^-K; truncated expected steps 2*(1 - 2^-K)."""
    from amazon_kinesis_data_streams_health_check_spark.plans.behavior_queries import (
        _ABSORB_ITERS,
        _ABSORB_SCALE,
        _absorb_fixed_point,
    )

    got = _absorb_fixed_point(
        {("a", "purchase"): _ABSORB_SCALE // 2, ("a", "a"): _ABSORB_SCALE // 2}
    )
    t_micro, a_ppm = got["a"]
    want_a = (1 - 0.5**_ABSORB_ITERS) * _ABSORB_SCALE
    want_t = 2 * (1 - 0.5**_ABSORB_ITERS) * _ABSORB_SCALE
    assert abs(a_ppm - want_a) < 50  # integer-floor slack
    assert abs(t_micro - want_t) < 100


# ---------------------------------------------------------------------------
# pass@k stepwise-floored estimator == exact hypergeometric (comb) value
# ---------------------------------------------------------------------------
@settings(max_examples=40, deadline=None)
@given(n=st.integers(1, 400), c_frac=st.integers(0, 100), k=st.sampled_from([1, 5, 10]))
def test_pass_at_k_floored_product_tracks_exact(n, c_frac, k):
    """f_0=1e6, f_{j+1}=f_j*(n-c-j) div (n-j) must equal the exact
    1e6*C(n-c,k)/C(n,k) up to k floor units, never exceeding it."""
    import math

    if n < k:
        return
    c = n * c_frac // 100
    f = 10**6
    for j in range(k):
        f = f * max(0, n - c - j) // (n - j)
    exact = 10**6 * math.comb(n - c, k) // math.comb(n, k) if n - c >= k else 0
    assert f <= exact + 1  # floors only push down; +1 for the exact's own floor
    assert exact - f <= k
    # brute-force sanity at tiny n: P(k-subset all-fail) via enumeration
    if n <= 8:
        import itertools

        fails = [1] * (n - c) + [0] * c
        allfail = sum(
            1 for s in itertools.combinations(fails, k) if all(s)
        )
        total = math.comb(n, k)
        assert abs(f - 10**6 * allfail // total) <= k


# ---------------------------------------------------------------------------
# Length EMD drift == Python cumulative-histogram model
# ---------------------------------------------------------------------------
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    docs=st.lists(
        st.tuples(st.sampled_from(["s0", "s1"]), st.integers(0, 2200)),
        min_size=2,
        max_size=25,
    )
)
def test_length_emd_matches_python_model(spark, tmp_path_factory, docs):
    from amazon_kinesis_data_streams_health_check_spark.plans.corpus_queries import (
        _EMD_BIN_W,
        _EMD_BINS,
    )
    from amazon_kinesis_data_streams_health_check_spark.plans.registry import get

    sf_dir = str(tmp_path_factory.mktemp("emdcorpus"))
    rows = [
        (i, " ".join(["w"] * n), "en", s, 2 * n)
        for i, (s, n) in enumerate(docs)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    got = {
        r.source: (r.emd_ppm_bins, r.ks_ppm, r.n_bins_moved)
        for r in get("length_emd_drift").builder(spark, sf_dir).collect()
    }

    def hist(items):
        h = [0] * _EMD_BINS
        for n in items:
            h[min(_EMD_BINS - 1, n // _EMD_BIN_W)] += 1
        return h

    all_lens = [n for _, n in docs]
    gh, gn = hist(all_lens), len(all_lens)
    want = {}
    for s in {s for s, _ in docs}:
        sl = [n for src, n in docs if src == s]
        sh, sn = hist(sl), len(sl)
        cs = cg = emd = ks = moved = 0
        for b in range(_EMD_BINS):
            cs += 10**6 * sh[b] // sn
            cg += 10**6 * gh[b] // gn
            emd += abs(cs - cg)
            ks = max(ks, abs(cs - cg))
            moved += 1 if cs != cg else 0
        want[s] = (emd, ks, moved)
    assert got == want


# ---------------------------------------------------------------------------
# Unigram-LM round 2 == full two-round Python pipeline model
# ---------------------------------------------------------------------------
@settings(max_examples=4, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["aba", "abab", "bb", "cabab", "ccc"]),
            min_size=1,
            max_size=8,
        ).map(" ".join),
        min_size=1,
        max_size=5,
    )
)
def test_unigram_em2_matches_python_model(spark, tmp_path_factory, texts):
    import math
    import re as _re

    from amazon_kinesis_data_streams_health_check_spark.plans.mining_queries import (
        _UG_MAXLEN,
        _UG_REL_PPK,
    )
    from amazon_kinesis_data_streams_health_check_spark.plans.registry import get

    sf_dir = str(tmp_path_factory.mktemp("ug2corpus"))
    rows = [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    row = get("unigram_lm_em2").builder(spark, sf_dir).collect()[0].asDict()

    wcount: dict[str, int] = {}
    for t in texts:
        for w in _re.findall(r"[a-z0-9]+", t.lower()):
            wcount[w] = wcount.get(w, 0) + 1
    weight: dict[str, int] = {}
    total = 0
    for w, n in wcount.items():
        for p in range(len(w)):
            for l in range(1, min(_UG_MAXLEN, len(w) - p) + 1):
                weight[w[p : p + l]] = weight.get(w[p : p + l], 0) + n
                total += n
    costs1 = {
        s: int(math.log2(total // wt))
        for s, wt in weight.items()
        if 1000 * wt >= _UG_REL_PPK * total or len(s) == 1
    }

    def viterbi(w: str, costs: dict[str, int]):
        dist = ["%08d%04d" % (0, 0)]
        for j in range(1, len(w) + 1):
            cands = []
            for l in range(1, min(_UG_MAXLEN, j) + 1):
                piece = w[j - l : j]
                if piece not in costs:
                    continue
                prev = dist[j - l]
                cands.append(
                    "%08d%04d%s"
                    % (
                        int(prev[:8]) + costs[piece],
                        int(prev[8:12]) + 1,
                        piece
                        if int(prev[8:12]) == 0
                        else prev[12:] + " " + piece,
                    )
                )
            dist.append(min(cands))
        return dist[len(w)]

    seg1 = {w: viterbi(w, costs1) for w in wcount}
    em: dict[str, int] = {}
    for w, n in wcount.items():
        for piece in seg1[w][12:].split(" "):
            em[piece] = em.get(piece, 0) + n
    v2 = {
        s: em.get(s, 0) + 1
        for s in costs1
        if s in em or len(s) == 1
    }
    tot2 = sum(v2.values())
    costs2 = {s: int(math.log2(tot2 // w1)) for s, w1 in v2.items()}
    seg2 = {w: viterbi(w, costs2) for w in wcount}

    assert row["n_word_types"] == len(wcount)
    assert row["vocab_r1"] == len(costs1)
    assert row["vocab_r2"] == len(v2)
    assert row["corpus_bits_r1"] == sum(
        n * int(seg1[w][:8]) for w, n in wcount.items()
    )
    assert row["corpus_bits_r2"] == sum(
        n * int(seg2[w][:8]) for w, n in wcount.items()
    )
    assert row["corpus_pieces_r1"] == sum(
        n * int(seg1[w][8:12]) for w, n in wcount.items()
    )
    assert row["corpus_pieces_r2"] == sum(
        n * int(seg2[w][8:12]) for w, n in wcount.items()
    )
    assert row["n_types_changed"] == sum(
        1 for w in wcount if seg1[w][12:] != seg2[w][12:]
    )


# ---------------------------------------------------------------------------
# Held-out perplexity == Python split/fit/score model
# ---------------------------------------------------------------------------
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    texts=st.lists(
        st.tuples(
            st.sampled_from(["s0", "s1"]),
            st.lists(
                st.sampled_from(["aa", "bb", "cc", "zz9"]),
                min_size=1,
                max_size=8,
            ).map(" ".join),
        ),
        min_size=4,
        max_size=20,
    )
)
def test_heldout_perplexity_matches_python_model(spark, tmp_path_factory, texts):
    import math
    import re as _re

    from amazon_kinesis_data_streams_health_check_spark.plans.corpus_queries import (
        _HELDOUT_PCT,
    )
    from amazon_kinesis_data_streams_health_check_spark.plans.registry import get

    sf_dir = str(tmp_path_factory.mktemp("hocorpus"))
    rows = [(i, t, "en", s, len(t)) for i, (s, t) in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    got = {
        r.source: r.asDict()
        for r in get("heldout_unigram_perplexity").builder(spark, sf_dir).collect()
    }

    held = {
        i: _md5_u32(i) * 100 < _HELDOUT_PCT * 4_294_967_296
        for i, _ in enumerate(texts)
    }
    toks = [
        (s, held[i], _re.findall(r"[a-z0-9]+", t.lower()))
        for i, (s, t) in enumerate(texts)
    ]
    vocab: dict[str, int] = {}
    for _, h, ts in toks:
        if not h:
            for t in ts:
                vocab[t] = vocab.get(t, 0) + 1
    train_total, v = sum(vocab.values()), len(vocab)
    per: dict[str, dict] = {}
    for s, h, ts in toks:
        d = per.setdefault(
            s, {"hb": 0, "tb": 0, "hn": 0, "tn": 0, "oov": 0}
        )
        for t in ts:
            bits = int(
                math.log2((train_total + v + 1) // (vocab.get(t, 0) + 1))
            )
            if h:
                d["hb"] += bits
                d["hn"] += 1
                d["oov"] += 0 if t in vocab else 1
            else:
                d["tb"] += bits
                d["tn"] += 1
    want = {}
    for s, d in per.items():
        if d["hn"] == 0 or d["tn"] == 0:
            continue
        hm = 10**6 * d["hb"] // d["hn"]
        tm = 10**6 * d["tb"] // d["tn"]
        want[s] = (d["hn"], d["tn"], hm, tm, hm - tm,
                   10**6 * d["oov"] // d["hn"])
    assert {
        s: (
            r["heldout_tokens"], r["train_tokens"], r["heldout_micro_bits"],
            r["train_micro_bits"], r["generalization_gap_micro"],
            r["heldout_oov_ppm"],
        )
        for s, r in got.items()
    } == want


# ---------------------------------------------------------------------------
# Source containment matrix == Python set model
# ---------------------------------------------------------------------------
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["s0", "s1", "s2"]),
            st.lists(
                st.sampled_from(["aa", "bb", "cc", "dd"]),
                min_size=1,
                max_size=8,
            ).map(" ".join),
        ),
        min_size=2,
        max_size=15,
    )
)
def test_source_containment_matches_set_model(spark, tmp_path_factory, docs):
    import re as _re

    from amazon_kinesis_data_streams_health_check_spark.plans.registry import get

    sf_dir = str(tmp_path_factory.mktemp("contain"))
    rows = [(i, t, "en", s, len(t)) for i, (s, t) in enumerate(docs)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    got = {
        (r.source_a, r.source_b): (r.n_shingles_a, r.n_common, r.containment_ppm)
        for r in get("source_containment_matrix").builder(spark, sf_dir).collect()
    }

    def shingles(t):
        toks = _re.findall(r"[a-z0-9]+", t.lower())
        upper = max(len(toks) - 2, 1)
        return {" ".join(toks[i : i + 3]) for i in range(upper)}

    per: dict[str, set] = {}
    for s, t in docs:
        per.setdefault(s, set()).update(shingles(t))
    want = {}
    for a in per:
        for b in per:
            if a == b:
                continue
            common = len(per[a] & per[b])
            want[(a, b)] = (
                len(per[a]),
                common,
                10**6 * common // len(per[a]),
            )
    assert got == want
