"""Tests for corpus-quality, sampling, and decontamination operators."""

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from syzgydb_spark.operators.contamination import decontaminate, ngram_contamination
from syzgydb_spark.operators.quality import (
    corpus_stats,
    repetition_stats,
    sample_bucket,
    stratified_sample,
)


@pytest.fixture(scope="module")
def qdocs(spark):
    rows = [
        (1, "the cat sat on the mat and the dog ran", "en", "a"),
        (2, "spam spam spam spam spam spam spam spam", "en", "a"),
        (3, "", "en", "b"),
        (4, "one", "en", "b"),
        (5, "alpha beta gamma delta epsilon zeta eta theta", "en", "b"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_repetition_stats_planted(qdocs):
    out = {r["doc_id"]: r for r in repetition_stats(qdocs).collect()}
    # doc 2 is pure repetition: 1 distinct token, a single repeated bigram
    assert out[2]["distinct_token_ratio"] == pytest.approx(1 / 8)
    assert out[2]["top_bigram_frac"] == 1.0
    assert out[2]["top_bigram_count"] == 7
    # doc 5 has no repetition at all
    assert out[5]["distinct_token_ratio"] == 1.0
    assert out[5]["top_bigram_frac"] == pytest.approx(1 / 7)
    # empty and single-token docs: zero ratios, not NULL
    assert out[3]["n_tokens"] == 0 and out[3]["distinct_token_ratio"] == 0.0
    assert out[4]["n_bigrams"] == 0 and out[4]["top_bigram_frac"] == 0.0


def test_corpus_stats(qdocs):
    out = {(r["lang"], r["source"]): r for r in corpus_stats(qdocs).collect()}
    assert out[("en", "a")]["n_docs"] == 2
    assert out[("en", "a")]["n_tokens"] == 10 + 8
    assert out[("en", "b")]["n_docs"] == 3
    assert out[("en", "b")]["avg_tokens"] == pytest.approx((0 + 1 + 8) / 3)


def test_stratified_sample_deterministic_and_stratified(spark):
    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "keep_all").otherwise("keep_none").alias("source"),
    )
    out = stratified_sample(
        df, {"keep_all": 1.0, "keep_none": 0.0}, strata_col="source"
    )
    got = sorted(r["doc_id"] for r in out.collect())
    assert got == list(range(0, 4000, 2))  # rate 1.0 keeps all, 0.0 keeps none

    df2 = df.withColumn("source", F.lit("s"))
    half = stratified_sample(df2, {"s": 0.5}, strata_col="source")
    n1 = half.count()
    assert n1 == half.count()  # deterministic across runs
    assert 0.45 * 4000 < n1 < 0.55 * 4000  # close to the nominal rate
    # kept set at 0.25 is a subset of the kept set at 0.5 (nested samples)
    quarter = {r["doc_id"] for r in stratified_sample(df2, {"s": 0.25}, strata_col="source").collect()}
    halfset = {r["doc_id"] for r in half.collect()}
    assert quarter <= halfset


def test_stratified_sample_no_shuffle(spark):
    df = spark.range(100).select(F.col("id").alias("doc_id"), F.lit("s").alias("source"))
    plan = (
        stratified_sample(df, {"s": 0.5}, strata_col="source")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # pure filter: scales at scan speed


def test_sample_bucket_range(spark):
    df = spark.range(1000).select(sample_bucket(F.col("id")).alias("b"))
    mn, mx = df.agg(F.min("b"), F.max("b")).first()
    assert 0 <= mn and mx < 10000


@pytest.fixture(scope="module")
def contamination_fixture(spark):
    eval_rows = [
        (100, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
        (101, "one unique eval sentence that nothing in train ever repeats here"),
    ]
    train_rows = [
        # contains eval doc 100's 8-gram verbatim inside a longer doc
        (1, "xx yy alpha bravo charlie delta echo foxtrot golf hotel india juliet zz"),
        (2, "completely unrelated words about cats dogs birds fish and trees plants"),
        (3, "another clean training document with no benchmark text inside it at all"),
    ]
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")  # noqa: E731
    return mk(train_rows), mk(eval_rows)


def test_contamination_planted(contamination_fixture):
    train, eval_set = contamination_fixture
    pairs = ngram_contamination(train, eval_set, n=8).collect()
    assert {(r["train_id"], r["eval_id"]) for r in pairs} == {(1, 100)}
    # doc 100 has 10 tokens -> 3 distinct 8-grams, all inside doc 1
    assert pairs[0]["n_common"] == 3

    clean = decontaminate(train, eval_set, n=8)
    assert sorted(r["doc_id"] for r in clean.collect()) == [2, 3]


def test_contamination_eval_df_cap(spark):
    # a gram present in MANY eval docs is non-indicative; the cap drops
    # it and reports the drop through the observation
    gram = "zero one two three four five six seven"
    eval_rows = [(i, gram) for i in range(10)]
    train_rows = [(1, f"prefix words {gram} suffix words")]
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    eval_set = spark.createDataFrame(eval_rows, "doc_id long, text string")
    obs = Observation("contamination")
    out = ngram_contamination(
        train, eval_set, n=8, max_eval_df=5, observation=obs
    )
    assert out.count() == 0  # the only shared gram was capped away
    m = obs.get
    assert m["dropped_eval_grams"] == 1
    assert m["distinct_eval_grams"] == 1


def test_contamination_broadcast_plan(contamination_fixture):
    train, eval_set = contamination_fixture
    plan = (
        ngram_contamination(train, eval_set, n=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan  # eval side broadcast: no train-gram shuffle


def test_redact_pii(spark):
    from syzgydb_spark.functions.text import redact_pii

    rows = [
        (1, "write to bob.smith+x@corp.example.org today"),
        (2, "server at 192.168.0.1 port 80"),
        (3, "call +1 (555) 010-1234 now"),
        (4, "no pii here at all"),
        (5, "or 555-010-1234 or (555) 010-1234"),
        # phone shapes only — dates/years/versions must survive intact
        (6, "released 2026-08-13 12:34 in 1995 2000 3000 people v1.2.3.4"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["t"] for r in df.select("id", redact_pii("text").alias("t")).collect()}
    assert got[1] == "write to [EMAIL] today"
    assert got[2] == "server at [IP] port 80"
    assert got[3] == "call [PHONE] now"
    assert got[4] == "no pii here at all"
    assert got[5] == "or [PHONE] or [PHONE]"
    assert got[6] == rows[5][1]  # untouched


def test_token_chunks(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F
    from syzgydb_spark.functions.text import token_chunks

    rows = [(1, "t1 t2 t3 t4 t5 t6 t7"), (2, ""), (3, "only")]
    df = spark.createDataFrame(rows, "id long, text string")
    out = df.select("id", token_chunks("text", chunk_tokens=4, overlap=1).alias("c"))
    by_id = {r["id"]: r["c"] for r in out.collect()}
    # step 3: starts 1, 4, 7 — but start 7 covers only t7, which chunk
    # [4..7] already contains ⇒ dropped (7 + 1 > 7)
    assert [(c["start"], c["n_tokens"], c["chunk"]) for c in by_id[1]] == [
        (1, 4, "t1 t2 t3 t4"),
        (4, 4, "t4 t5 t6 t7"),
    ]
    assert by_id[2] == []
    assert [(c["start"], c["n_tokens"]) for c in by_id[3]] == [(1, 1)]
    # consecutive chunks share exactly `overlap` tokens
    a, b = by_id[1]
    assert a["chunk"].split()[-1:] == b["chunk"].split()[:1]
    with _pytest.raises(ValueError):
        token_chunks("text", chunk_tokens=4, overlap=4)


def test_sequence_bins(spark):
    from syzgydb_spark.operators.packing import sequence_bins

    rows = [(i, 10 + (i * 7) % 13) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")

    # pandas oracle: exclusive global cumsum in doc_id order
    toks = dict(rows)
    prev, want = 0, {}
    for i in range(100):
        want[i] = (prev // 50, prev % 50)
        prev += toks[i]

    for nb in (1, 7):  # bucket count must not change the packing
        got = {
            r["doc_id"]: (r["bin_id"], r["bin_offset"])
            for r in sequence_bins(df, 50, num_buckets=nb).collect()
        }
        assert got == want, f"num_buckets={nb}"

    out = sequence_bins(df, 50, num_buckets=7)
    assert out.where(F.col("bin_offset") >= 50).count() == 0
    with pytest.raises(ValueError):
        sequence_bins(df, 0)


def test_gopher_filters_planted_rules(spark):
    """Each planted doc violates exactly one Gopher rule; the per-rule
    booleans must finger it (oracle `gopher_filters` checks values)."""
    from syzgydb_spark.operators.quality import gopher_filters

    good = "the quick brown fox and the lazy dog have gone to town " * 5
    docs = [
        (1, good),                                       # passes all
        (2, "too short"),                                # word count
        (3, " ".join(["a"] * 60) + " the of"),           # mean word len < 3
        (4, good + " " + "#" * 40),                      # symbol ratio
        (5, "\n".join(["- bullet line the of and"] * 10)),   # bullets
        (6, "\n".join(["the line trails off and..."] * 10)), # ellipses
        (7, good.replace("fox", "123 456 789 000 111 222 333 444")),  # alpha
        (8, "zebra quokka lorikeet wombat " * 20),       # no stopwords
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    out = {
        r["doc_id"]: r.asDict()
        for r in gopher_filters(df, min_words=20, min_stopwords=1).collect()
    }
    assert out[1]["passes"] is True
    assert out[2]["ok_word_count"] is False
    assert out[3]["ok_mean_word_len"] is False
    assert out[4]["ok_symbol_ratio"] is False
    assert out[5]["ok_bullet_ratio"] is False
    assert out[6]["ok_ellipsis_ratio"] is False
    assert out[7]["ok_alpha_ratio"] is False and out[7]["passes"] is False
    assert out[8]["ok_stopwords"] is False
    for i in (2, 3, 4, 5, 6, 7, 8):
        assert out[i]["passes"] is False, i


def test_c4_clean_planted_rules(spark):
    from syzgydb_spark.operators.quality import c4_clean

    docs = [
        (1, "A good first sentence here.\nAnd a second good one!"),
        (2, "no terminal punctuation on this line\nnor on this one"),
        (3, "Lorem ipsum dolor sit amet, consectetur adipiscing elit."),
        (4, "function f() { return 1; } is code with braces."),
        (5, "Short.\nOk?\nKept lines need three or more words here."),
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    out = {
        r["doc_id"]: r.asDict()
        for r in c4_clean(df, min_sentences=2).collect()
    }

    assert out[1]["keep"] is True
    assert out[1]["n_kept_lines"] == 2 and out[1]["n_sentences"] == 2
    # all lines dropped → zero sentences → page fails min_sentences
    assert out[2]["clean_text"] == "" and out[2]["ok_min_sentences"] is False
    assert out[3]["ok_no_lorem"] is False and out[3]["keep"] is False
    assert out[4]["ok_no_brace"] is False and out[4]["keep"] is False
    # "Short." and "Ok?" have < 3 words → only the long line survives
    assert out[5]["n_kept_lines"] == 1


def test_gopher_filters_differential_vs_python(spark):
    """Randomized differential: every gopher_filters measurement must
    match a direct pure-Python evaluation of the same rules on random
    word-salad docs (the combinatorial coverage the planted fixtures
    can't give)."""
    import random
    import re

    from syzgydb_spark.operators.quality import GOPHER_STOPWORDS, gopher_filters

    rng = random.Random(99)
    vocab = ["the", "fox", "run", "#", "data", "of", "x1", "...", "and", "zz"]
    docs = []
    for i in range(40):
        n = rng.randint(0, 60)
        words = [rng.choice(vocab) for _ in range(n)]
        lines = []
        while words:
            take = rng.randint(1, max(1, len(words)))
            prefix = rng.choice(["", "- ", "* "])
            suffix = rng.choice(["", "...", "…"])
            lines.append(prefix + " ".join(words[:take]) + suffix)
            words = words[take:]
        docs.append((i, "\n".join(lines)))
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = {r["doc_id"]: r.asDict() for r in
           gopher_filters(df, min_words=10, min_stopwords=1).collect()}

    for i, text in docs:
        toks = [t for t in re.split(r"[^\w']+", text.lower().replace("_", " ")) if t]
        nw = len(toks)
        mean_wl = sum(map(len, toks)) / nw if nw else 0.0
        sym = (text.count("#") + len(text.split("...")) - 1) / nw if nw else 0.0
        lines = text.split("\n")
        bullet = sum(l.startswith(("- ", "* ", "•")) for l in lines) / len(lines)
        ell = sum(l.endswith(("...", "…")) for l in lines) / len(lines)
        alpha = sum(bool(re.search("[a-z]", t)) for t in toks) / nw if nw else 0.0
        stops = len(set(toks) & set(GOPHER_STOPWORDS))
        g = got[i]
        assert g["n_words"] == nw, (i, text)
        assert abs(g["mean_word_len"] - round(mean_wl, 6)) < 1e-9, i
        assert abs(g["symbol_ratio"] - round(sym, 6)) < 1e-9, i
        assert abs(g["bullet_ratio"] - round(bullet, 6)) < 1e-9, i
        assert abs(g["ellipsis_ratio"] - round(ell, 6)) < 1e-9, i
        assert abs(g["alpha_ratio"] - round(alpha, 6)) < 1e-9, i
        assert g["stopword_hits"] == stops, i
        assert g["passes"] == (
            10 <= nw <= 100_000 and 3.0 <= mean_wl <= 10.0 and sym <= 0.1
            and bullet <= 0.9 and ell <= 0.3 and alpha >= 0.8 and stops >= 1
        ), i


def test_unigram_lm_is_proper_distribution(spark):
    from syzgydb_spark.operators.quality import unigram_lm

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat"), (3, "a cat")],
        "doc_id LONG, text STRING",
    )
    lm = unigram_lm(docs, min_count=2, alpha=0.5).collect()
    vocab = {r["token"]: r["logp"] for r in lm if r["token"] is not None}
    oov = [r["logp"] for r in lm if r["token"] is None]
    # min_count=2 keeps the, cat, sat; oov row present exactly once
    assert set(vocab) == {"the", "cat", "sat"}
    assert len(oov) == 1
    import math

    # proper: vocab mass + one OOV class sums to < 1 (unseen mass left)
    total = sum(math.exp(p) for p in vocab.values()) + math.exp(oov[0])
    assert total <= 1.0 + 1e-9
    # more frequent token -> higher logp
    assert vocab["the"] > vocab["cat"]


def test_unigram_lm_eager_fit_runs_once(spark):
    """Fit once, score many: a second eager unigram_lm over the same
    reference attaches to the session-cached model and must NOT run
    the fill-forcing count job again — and still returns the identical
    relation. After release, a refit runs and values are unchanged."""
    from syzgydb_spark.cache import release_cached
    from syzgydb_spark.operators.quality import unigram_lm

    docs = spark.createDataFrame(
        [(1, "p q p q r"), (2, "p r r"), (3, "q p")],
        "doc_id LONG, text STRING",
    )
    spark.sparkContext.setJobGroup("lm-fit-1", "first fit")
    lm1 = unigram_lm(docs, min_count=2, alpha=0.5)

    def rows(lm):
        return sorted(((r["token"] or "", r["logp"]) for r in lm.collect()))

    first = rows(lm1)
    st = spark.sparkContext.statusTracker()
    assert len(st.getJobIdsForGroup("lm-fit-1")) >= 1
    spark.sparkContext.setJobGroup("lm-fit-2", "cached refit")
    lm2 = unigram_lm(docs, min_count=2, alpha=0.5)
    # the eager count was skipped: no job ran inside unigram_lm itself
    assert len(st.getJobIdsForGroup("lm-fit-2")) == 0
    spark.sparkContext.setJobGroup(None, None)
    assert rows(lm2) == first
    # release -> next fit re-runs the fill and values are unchanged
    release_cached(lm1)
    release_cached(lm2)
    spark.sparkContext.setJobGroup("lm-fit-3", "post-release refit")
    lm3 = unigram_lm(docs, min_count=2, alpha=0.5)
    assert len(st.getJobIdsForGroup("lm-fit-3")) >= 1
    spark.sparkContext.setJobGroup(None, None)
    assert rows(lm3) == first
    release_cached(lm3)


def test_eager_fit_fills_a_lazily_registered_model(spark):
    """An ``eager=False`` fit registers the model's cache entry without
    filling it; a later ``eager=True`` fit of the same model must still
    run the fill (a registered-but-empty entry is not "already
    cached"), after which the entry reads as cached."""
    from syzgydb_spark.cache import plan_already_cached, release_cached
    from syzgydb_spark.operators.quality import unigram_lm

    docs = spark.createDataFrame(
        [(1, "lazy eager lazy"), (2, "eager fill eager"), (3, "fill lazy")],
        "doc_id LONG, text STRING",
    )
    lazy = unigram_lm(docs, min_count=2, alpha=0.5, eager=False)
    assert not plan_already_cached(lazy)
    sc = spark.sparkContext
    sc.setJobGroup("lm-fit-after-lazy", "eager fit after a lazy one")
    eager = unigram_lm(docs, min_count=2, alpha=0.5)
    sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("lm-fit-after-lazy")) >= 1
    assert plan_already_cached(eager)
    release_cached(lazy)
    release_cached(eager)


def test_lm_perplexity_orders_common_vs_rare(spark):
    from syzgydb_spark.operators.quality import lm_perplexity, unigram_lm

    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)],
        "doc_id LONG, text STRING",
    )
    lm = unigram_lm(ref, min_count=2, alpha=0.5)
    probe = spark.createDataFrame(
        [
            (100, "the quick brown fox"),  # in-domain
            (101, "zyx wvu tsr qpo"),      # all OOV
            (102, ""),                      # empty
        ],
        "doc_id LONG, text STRING",
    )
    rows = {r["doc_id"]: r for r in lm_perplexity(probe, lm).collect()}
    assert rows[100]["logppl"] < rows[101]["logppl"]
    assert rows[102]["n_tokens"] == 0 and rows[102]["logppl"] is None
    assert rows[100]["n_tokens"] == 4


def test_bigram_perplexity_rewards_fluent_order(spark):
    """The interpolated bigram model must score in-domain word ORDER
    below the same tokens scrambled (a unigram model can't tell them
    apart), fall back to unigram for the first token and unseen
    contexts, and keep the empty-doc contract."""
    from syzgydb_spark.operators.quality import (
        bigram_lm,
        bigram_perplexity,
        unigram_lm,
    )

    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)],
        "doc_id LONG, text STRING",
    )
    uni = unigram_lm(ref, min_count=2, alpha=0.5)
    bi = bigram_lm(ref, min_count=2)
    probe = spark.createDataFrame(
        [
            (100, "the quick brown fox"),   # fluent: every bigram seen
            (101, "fox the brown quick"),   # same tokens, no seen bigram
            (102, ""),                       # empty
            (103, None),                     # null text
            (104, "fox"),                    # single token: unigram only
        ],
        "doc_id LONG, text STRING",
    )
    rows = {r["doc_id"]: r for r in bigram_perplexity(probe, bi, uni).collect()}
    assert rows[100]["logppl"] < rows[101]["logppl"]
    assert rows[102]["n_tokens"] == 0 and rows[102]["logppl"] is None
    assert rows[103]["n_tokens"] == 0 and rows[103]["logppl"] is None
    assert rows[104]["n_tokens"] == 1
    # single token is scored ln(p_uni) exactly (context-free)
    uni_rows = {r["token"]: r["logp"] for r in uni.collect()}
    assert rows[104]["logppl"] == pytest.approx(-uni_rows["fox"], abs=1e-9)


def test_bigram_perplexity_lambda_zero_equals_unigram(spark):
    """With lambda=0 the interpolation degenerates to the unigram
    model — logppl must agree with lm_perplexity to float noise on
    every document."""
    from syzgydb_spark.operators.quality import (
        bigram_lm,
        bigram_perplexity,
        lm_perplexity,
        unigram_lm,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha beta"),
            (2, "gamma gamma delta"),
            (3, "epsilon"),
            (4, "alpha beta alpha beta alpha beta"),
        ],
        "doc_id LONG, text STRING",
    )
    uni = unigram_lm(docs, min_count=1, alpha=0.5)
    bi = bigram_lm(docs, min_count=1)
    got = {
        r["doc_id"]: r["logppl"]
        for r in bigram_perplexity(docs, bi, uni, lambda_=0.0).collect()
    }
    want = {r["doc_id"]: r["logppl"] for r in lm_perplexity(docs, uni).collect()}
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9), k


def test_bigram_perplexity_rejects_lambda_one(spark):
    """lambda_=1 would let an unseen pair in a retained context hit
    ln(0) = NULL — silently SKIPPED by the sum while counted by the
    denominator, scoring impossible text as fluent. Must raise."""
    from syzgydb_spark.operators.quality import (
        bigram_lm,
        bigram_perplexity,
        unigram_lm,
    )

    docs = spark.createDataFrame([(1, "a b a b")], "doc_id LONG, text STRING")
    uni = unigram_lm(docs, min_count=1)
    bi = bigram_lm(docs, min_count=1)
    for bad in (1.0, -0.1, 1.5):
        with pytest.raises(ValueError):
            bigram_perplexity(docs, bi, uni, lambda_=bad)


def test_bigram_lm_is_proper_conditional(spark):
    """p_bi sums to 1 over each retained context's continuations."""
    from syzgydb_spark.operators.quality import bigram_lm

    docs = spark.createDataFrame(
        [(1, "a b a b a c"), (2, "a b a c a b")],
        "doc_id LONG, text STRING",
    )
    bi = bigram_lm(docs, min_count=1)
    sums = bi.groupBy("prev").agg(F.sum("p_bi").alias("s")).collect()
    assert sums and all(r["s"] == pytest.approx(1.0, abs=1e-12) for r in sums)


def test_dsir_weights_prefer_target_like_docs(spark):
    from syzgydb_spark.operators.quality import dsir_weights

    rows = []
    # target domain: cooking text; raw also contains legal text
    for i in range(10):
        rows.append((i, "stir the sauce and simmer the onions gently", "cook"))
    for i in range(10, 20):
        rows.append((i, "the party hereto shall indemnify the licensor", "legal"))
    # probe docs, one per domain, marked raw-only
    rows.append((100, "simmer the sauce", "probe"))
    rows.append((101, "indemnify the party", "probe"))
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, src STRING")
    res = dsir_weights(df, F.col("src") == "cook", id_col="doc_id")
    w = {r["doc_id"]: r["logw"] for r in res.collect()}
    # cooking-like probe scores higher than legal-like probe
    assert w[100] > w[101]


def test_dsir_weights_empty_doc_and_feature_count(spark):
    from syzgydb_spark.operators.quality import dsir_weights

    df = spark.createDataFrame(
        [(1, "alpha beta gamma", True), (2, "", False)],
        "doc_id LONG, text STRING, t BOOLEAN",
    )
    rows = {r["doc_id"]: r for r in dsir_weights(df, F.col("t")).collect()}
    # 3 unigrams + 2 bigrams
    assert rows[1]["n_feats"] == 5
    assert rows[2]["n_feats"] == 0 and rows[2]["logw"] is None


def test_stratified_fixed_sample_exact_k(spark, sf_dir):
    from syzgydb_spark.operators.quality import stratified_fixed_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    res = stratified_fixed_sample(docs, 5, strata_col="source", id_col="doc_id")
    per = {r["source"]: r["n"] for r in
           res.groupBy("source").agg(F.count("*").alias("n")).collect()}
    totals = {r["source"]: r["n"] for r in
              docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    for s, n in per.items():
        assert n == min(5, totals[s]), s
    # ranks are 1..k dense within each stratum
    ranks = res.groupBy("source").agg(F.max("sample_rank").alias("mx"),
                                      F.count("*").alias("n")).collect()
    assert all(r["mx"] == r["n"] for r in ranks)


def test_stratified_fixed_sample_small_stratum_returns_all(spark):
    from syzgydb_spark.operators.quality import stratified_fixed_sample

    df = spark.createDataFrame(
        [(i, "a") for i in range(3)] + [(i, "b") for i in range(10, 110)],
        "doc_id LONG, source STRING",
    )
    res = stratified_fixed_sample(df, 10, strata_col="source", id_col="doc_id")
    per = {r["source"]: r["n"] for r in
           res.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per == {"a": 3, "b": 10}


def test_stratified_fixed_sample_deterministic(spark, sf_dir):
    from syzgydb_spark.operators.quality import stratified_fixed_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = {(r["doc_id"], r["sample_rank"]) for r in
         stratified_fixed_sample(docs, 7).select("doc_id", "sample_rank").collect()}
    b = {(r["doc_id"], r["sample_rank"]) for r in
         stratified_fixed_sample(docs, 7).select("doc_id", "sample_rank").collect()}
    assert a == b and len(a) > 0


def test_mixture_plan_math(spark):
    from syzgydb_spark.operators.quality import mixture_plan

    df = spark.createDataFrame(
        [(i, "w " * 10, "a") for i in range(10)]      # 100 tokens in a
        + [(i, "w " * 10, "b") for i in range(10, 40)],  # 300 tokens in b
        "doc_id LONG, text STRING, source STRING",
    )
    plan = {r["source"]: r for r in
            mixture_plan(df, {"a": 1.0, "b": 1.0}, 200).collect()}
    # equal weights, 200-token budget: 100 targeted per stratum
    assert plan["a"]["target_tokens"] == 100.0
    # a has exactly 100 tokens -> rate 1.0, no deficit
    assert plan["a"]["rate"] == 1.0 and plan["a"]["deficit"] == 0.0
    # b has 300 -> rate 1/3
    assert abs(plan["b"]["rate"] - 1 / 3) < 1e-12
    assert plan["b"]["planned_tokens"] == 100.0


def test_mixture_plan_deficit_when_underfull(spark):
    from syzgydb_spark.operators.quality import mixture_plan

    df = spark.createDataFrame(
        [(1, "one two three", "tiny")], "doc_id LONG, text STRING, source STRING"
    )
    row = mixture_plan(df, {}, 1000, default_weight=1.0).collect()[0]
    assert row["rate"] == 1.0
    assert row["planned_tokens"] == 3.0 and row["deficit"] == 997.0


def test_apply_mixture_roundtrip(spark, sf_dir):
    from syzgydb_spark.operators.quality import apply_mixture, mixture_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = mixture_plan(docs, {"src0": 2.0}, 5_000, default_weight=1.0)
    sampled = apply_mixture(docs, plan)
    n, total = sampled.count(), docs.count()
    assert 0 < n < total
    # deterministic
    assert apply_mixture(docs, plan).count() == n


def test_lm_perplexity_differential_vs_python(spark):
    """Randomized differential: distributed LM fit + scoring equals a
    single-threaded Python reference (same tokenizer, same smoothing)."""
    import math
    import random
    import re

    rng = random.Random(99)
    vocab_pool = ["alpha", "beta", "gamma", "delta", "x1", "y2", "the", "of"]
    rows = [
        (i, " ".join(rng.choices(vocab_pool, k=rng.randint(0, 12))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    from syzgydb_spark.operators.quality import lm_perplexity, unigram_lm

    got = {
        r["doc_id"]: (r["n_tokens"], r["logppl"])
        for r in lm_perplexity(df, unigram_lm(df, min_count=2, alpha=0.5)).collect()
    }

    def toks(t):
        return [w for w in re.split(r"[^\w']+", t.lower()) if w]

    counts = {}
    for _, t in rows:
        for w in toks(t):
            counts[w] = counts.get(w, 0) + 1
    counts = {w: c for w, c in counts.items() if c >= 2}
    n, v = sum(counts.values()), len(counts)
    denom = n + 0.5 * (v + 1)

    def logp(w):
        return math.log((counts.get(w, 0) + 0.5) / denom) if w in counts else math.log(0.5 / denom)

    for i, t in rows:
        tk = toks(t)
        want = (-sum(logp(w) for w in tk) / len(tk)) if tk else None
        gn, gp = got[i]
        assert gn == len(tk)
        if want is None:
            assert gp is None
        else:
            assert abs(gp - want) < 1e-9, (i, gp, want)


def test_top_terms_ranking(spark):
    from syzgydb_spark.operators.quality import top_terms

    df = spark.createDataFrame(
        [(1, "b b b a a c", "s1"), (2, "a", "s1"), (3, "z z y", "s2")],
        "doc_id LONG, text STRING, source STRING",
    )
    res = top_terms(df, 2, strata_col="source")
    got = {(r["source"], r["term_rank"]): (r["term"], r["term_count"])
           for r in res.collect()}
    # s1: a=3, b=3 -> tie broken by term asc
    assert got[("s1", 1)] == ("a", 3) and got[("s1", 2)] == ("b", 3)
    assert got[("s2", 1)] == ("z", 2) and got[("s2", 2)] == ("y", 1)


def test_new_ops_empty_inputs(spark):
    """Empty-corpus robustness: every new operator returns an empty
    (or well-defined) result instead of dividing by zero or crashing."""
    from syzgydb_spark.operators.quality import (
        dsir_weights, lm_perplexity, mixture_plan, stratified_fixed_sample,
        top_terms, unigram_lm,
    )

    empty = spark.createDataFrame([], "doc_id LONG, text STRING, source STRING")

    lm = unigram_lm(empty)
    assert lm.where(F.col("token").isNotNull()).count() == 0
    # scoring a real doc against an empty LM: everything is OOV mass
    probe = spark.createDataFrame([(1, "a b")], "doc_id LONG, text STRING")
    row = lm_perplexity(probe, lm).collect()[0]
    assert row["n_tokens"] == 2 and row["logppl"] is not None

    assert dsir_weights(empty, F.lit(True)).count() == 0
    assert stratified_fixed_sample(empty, 5).count() == 0
    assert top_terms(empty).count() == 0
    assert mixture_plan(empty, {"a": 1.0}, 100).count() == 0


def test_semdedup_empty_and_single(spark):
    import numpy as np
    from syzgydb_spark.operators.ivf import IvfIndex
    from syzgydb_spark.operators.semantic import semdedup

    idx = IvfIndex(np.eye(2), method="euclidean")
    empty = spark.createDataFrame([], "id LONG, vector ARRAY<DOUBLE>")
    assert semdedup(empty, idx).count() == 0
    one = spark.createDataFrame([(1, [1.0, 0.0])], "id LONG, vector ARRAY<DOUBLE>")
    [r] = semdedup(one, idx).collect()
    assert r["kept"] and r["rank"] == 1 and r["max_prior_sim"] is None


def test_sessionize_empty(spark):
    from syzgydb_spark.operators.temporal import sessionize

    empty = spark.createDataFrame([], "user_id LONG, ts TIMESTAMP")
    assert sessionize(empty).count() == 0


def test_vocab_stats_exact_and_approx(spark):
    from syzgydb_spark.operators.quality import vocab_stats

    rows = [
        (1, "a", "one two three two one"),
        (2, "a", "one four"),
        (3, "b", "x x x x"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")
    out = {r["source"]: r for r in vocab_stats(df).collect()}
    assert out["a"]["n_tokens"] == 7 and out["a"]["n_distinct_tokens"] == 4
    assert out["b"]["n_tokens"] == 4 and out["b"]["n_distinct_tokens"] == 1
    assert abs(out["a"]["type_token_ratio"] - 4 / 7) < 1e-9
    # HLL path: same totals, distinct within rsd at this tiny scale
    ap = {r["source"]: r for r in vocab_stats(df, approx=True).collect()}
    assert ap["a"]["n_tokens"] == 7
    assert abs(ap["a"]["n_distinct_tokens"] - 4) <= 1


def test_mixture_plan_zero_token_stratum_no_crash(spark):
    """ANSI-mode regression: a stratum with 0 tokens (empty texts) must
    not abort the plan with DIVIDE_BY_ZERO; its target shows up as
    deficit."""
    from syzgydb_spark.operators.quality import apply_mixture, mixture_plan

    rows = [(1, "a", "real content words here"), (2, "b", ""), (3, "b", "  ")]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")
    plan = {r["source"]: r for r in mixture_plan(df, {"a": 1.0, "b": 1.0}, 100).collect()}
    assert plan["b"]["n_tokens"] == 0 and plan["b"]["deficit"] == plan["b"]["target_tokens"]
    assert apply_mixture(df, mixture_plan(df, {"a": 1.0, "b": 1.0}, 100)).count() >= 0
    # all-zero weights: weight 0, no crash
    z = mixture_plan(df, {}, 100, default_weight=0.0).collect()
    assert all(r["weight"] == 0.0 for r in z)


def test_vocab_stats_zero_token_stratum_no_crash(spark):
    from syzgydb_spark.operators.quality import vocab_stats

    df = spark.createDataFrame(
        [(1, "a", "one two"), (2, "b", ""), (3, "c", None)],
        "doc_id LONG, source STRING, text STRING",
    )
    out = {r["source"]: r for r in vocab_stats(df).collect()}
    assert out["b"]["n_tokens"] == 0 and out["b"]["type_token_ratio"] is None
    assert out["c"]["n_tokens"] == 0
    assert out["a"]["n_tokens"] == 2


def test_stratified_fixed_sample_null_stratum_kept(spark):
    """A NULL stratum is a legitimate stratum: it must contribute
    exactly k rows like any other (regression: the equi-join silently
    dropped every NULL-stratum row)."""
    from syzgydb_spark.operators.quality import stratified_fixed_sample

    rows = [(i, "a" if i < 10 else None) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING")
    out = stratified_fixed_sample(df, 3, strata_col="source", id_col="doc_id")
    by = {}
    for r in out.collect():
        by.setdefault(r["source"], []).append(r["doc_id"])
    assert len(by.get("a", [])) == 3
    assert len(by.get(None, [])) == 3, "NULL stratum dropped"


def test_gopher_and_repetition_null_text_are_real_booleans(spark):
    """NULL text behaves as empty: `passes` is a REAL false (the doc
    shows up on the reject side), never NULL-vanishing from both sides
    of the predicate; repetition stats report zeros."""
    from syzgydb_spark.operators.quality import gopher_filters, repetition_stats

    df = spark.createDataFrame(
        [(1, None), (2, "the words and that have with to of be real text here")],
        "doc_id LONG, text STRING",
    )
    g = gopher_filters(df, min_words=3)
    assert g.where("passes").count() + g.where("NOT passes").count() == 2
    assert g.where("doc_id = 1 AND NOT passes").count() == 1
    r = {x["doc_id"]: x for x in repetition_stats(df).collect()}
    assert r[1]["n_tokens"] == 0 and r[1]["distinct_token_ratio"] == 0.0


def test_temperature_mixture_alpha_one_is_natural_shares(spark):
    from syzgydb_spark.operators.quality import temperature_mixture_plan

    df = spark.createDataFrame(
        [(i, "w " * 10, "a") for i in range(10)]      # 100 tokens
        + [(i, "w " * 10, "b") for i in range(10, 40)],  # 300 tokens
        "doc_id LONG, text STRING, source STRING",
    )
    plan = {r["source"]: r for r in
            temperature_mixture_plan(df, 200, alpha=1.0).collect()}
    assert abs(plan["a"]["weight"] - 0.25) < 1e-12
    assert abs(plan["b"]["weight"] - 0.75) < 1e-12


def test_temperature_mixture_alpha_zero_is_uniform(spark):
    from syzgydb_spark.operators.quality import temperature_mixture_plan

    df = spark.createDataFrame(
        [(i, "w " * 10, "a") for i in range(10)]
        + [(i, "w " * 10, "b") for i in range(10, 40)],
        "doc_id LONG, text STRING, source STRING",
    )
    plan = {r["source"]: r for r in
            temperature_mixture_plan(df, 200, alpha=0.0).collect()}
    assert abs(plan["a"]["weight"] - 0.5) < 1e-12
    assert abs(plan["b"]["weight"] - 0.5) < 1e-12


def test_temperature_mixture_flattens_between(spark):
    from syzgydb_spark.operators.quality import temperature_mixture_plan

    df = spark.createDataFrame(
        [(i, "w " * 10, "a") for i in range(10)]
        + [(i, "w " * 10, "b") for i in range(10, 40)],
        "doc_id LONG, text STRING, source STRING",
    )
    plan = {r["source"]: r for r in
            temperature_mixture_plan(df, 200, alpha=0.5).collect()}
    # tail 'a' sits strictly between its natural 0.25 and uniform 0.5
    assert 0.25 < plan["a"]["weight"] < 0.5
    # sqrt shares: 10/(10+sqrt(300)) with sqrt(100)=10
    import math
    expect = 10.0 / (10.0 + math.sqrt(300.0))
    assert abs(plan["a"]["weight"] - expect) < 1e-12


def test_temperature_mixture_zero_token_stratum(spark):
    from syzgydb_spark.operators.quality import temperature_mixture_plan

    df = spark.createDataFrame(
        [(1, "one two", "a"), (2, "", "empty")],
        "doc_id LONG, text STRING, source STRING",
    )
    plan = {r["source"]: r for r in
            temperature_mixture_plan(df, 100, alpha=0.5).collect()}
    # pow(0, 0.5) = 0: the empty stratum draws no budget and no crash
    assert plan["empty"]["weight"] == 0.0
    assert plan["empty"]["rate"] == 1.0  # nothing to sample
    assert plan["a"]["weight"] == 1.0


def test_repetition_stats_arrow_expr_identical(spark, sf_dir):
    """The Arrow kernel and the HOF-fold conformance twin must be
    bit-identical on real fixture data (incl. NULL/empty/one-token
    edge rows appended)."""
    from syzgydb_spark.operators.quality import repetition_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    extra = spark.createDataFrame(
        [(100001, None), (100002, ""), (100003, "one"), (100004, "a a a a")],
        "doc_id long, text string",
    )
    both = docs.unionByName(extra)
    a = sorted(map(tuple, repetition_stats(both, impl="arrow").collect()))
    b = sorted(map(tuple, repetition_stats(both, impl="expr").collect()))
    assert a == b
    by_id = {t[0]: t for t in a}
    assert by_id[100001][1] == 0 and by_id[100001][2] == 0.0
    assert by_id[100003] == (100003, 1, 1.0, 0, 0, 0.0)
    assert by_id[100004] == (100004, 4, 0.25, 3, 3, 1.0)


def test_duplication_stats_planted(spark):
    """Hand-computed Gopher A1.2 fractions on planted structure."""
    from syzgydb_spark.operators.quality import duplication_stats

    rows = [
        # doc 1: lines [aa bb, cc dd, aa bb, ee] -> dup 'aa bb' x2 of 4
        #   chars: 5+5+5+2 = 17, dup chars 10
        #   paragraphs: ['aa bb\ncc dd\naa bb', 'ee'] -> no dup paras
        (1, "aa bb\ncc dd\naa bb\n\nee"),
        # doc 2: duplicate paragraphs, no duplicate lines beyond them
        (2, "xx yy\n\nxx yy\n\nzz"),
        # doc 3: pure repetition -> top bigram 'spam spam' x3 covers
        #   chars 3*9=27 over join len 4*5-1=19 -> frac > 1 is real
        (3, "spam spam spam spam"),
        # doc 4: empty and doc 5: null
        (4, ""),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in duplication_stats(df).collect()}

    d1 = out[1]
    assert d1["n_lines"] == 4 and d1["n_paras"] == 2
    assert d1["dup_line_frac"] == pytest.approx(2 / 4)
    assert d1["dup_line_char_frac"] == pytest.approx(10 / 17)
    assert d1["dup_para_frac"] == 0.0 and d1["dup_para_char_frac"] == 0.0

    d2 = out[2]
    assert d2["n_paras"] == 3
    assert d2["dup_para_frac"] == pytest.approx(2 / 3)
    # paragraph chars: 5 + 5 + 2 = 12, dup 10
    assert d2["dup_para_char_frac"] == pytest.approx(10 / 12)
    # the two 'xx yy' LINES are also duplicates of each other
    assert d2["dup_line_frac"] == pytest.approx(2 / 3)

    d3 = out[3]
    # 3 occurrences of ('spam','spam'), len 9, denom len('spam '*4)-1=19
    assert d3["top_2gram_char_frac"] == pytest.approx(27 / 19)
    assert d3["dup_line_frac"] == 0.0  # one line only

    for d in (out[4], out[5]):
        assert d["n_lines"] == 0 and d["n_paras"] == 0
        assert all(
            d[c] == 0.0
            for c in (
                "dup_line_frac", "dup_line_char_frac", "dup_para_frac",
                "dup_para_char_frac", "top_2gram_char_frac",
                "top_3gram_char_frac", "top_4gram_char_frac",
            )
        )


def test_duplication_stats_trim_and_zero_shuffle(spark):
    """Whitespace-only lines drop out; CR/tab trimming unifies line
    variants; the plan never shuffles."""
    from syzgydb_spark.operators.quality import duplication_stats
    from syzgydb_spark.plans import scale_report

    df = spark.createDataFrame(
        [(1, "a b\r\n  a b\t\n   \n\na b")], "doc_id long, text string"
    )
    out = duplication_stats(df).collect()[0]
    # all three 'a b' variants trim to the same line; blank line drops
    assert out["n_lines"] == 3
    assert out["dup_line_frac"] == pytest.approx(1.0)
    # only the _spread parallelism top-up (a no-op on at-scale scans)
    assert scale_report(duplication_stats(df))["n_shuffles"] <= 1


def test_duplication_stats_most_frequent_gram_wins(spark):
    """Gopher §A1.2 pins the top-n-gram fraction to the single MOST
    FREQUENT n-gram's characters — a longer but rarer n-gram must not
    outrank it (the pre-r7 max-of-count×length bug)."""
    from syzgydb_spark.operators.quality import duplication_stats

    # bigram 'a b' occurs 3x (count 3, len 3 -> 9 chars);
    # bigram 'elephantine gargantuan' occurs once (len 22 -> 22 chars).
    # Max-product picks 22; Gopher picks 9.
    text = "a b a b a b elephantine gargantuan"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = duplication_stats(df).collect()[0]
    denom = len(text)  # tokens joined == original single-spaced text
    # occurrences of ('a','b') as a sliding bigram: positions 0,2,4 -> 3
    assert out["top_2gram_char_frac"] == pytest.approx(3 * 3 / denom)


def test_duplication_stats_gram_tiebreak_deterministic(spark):
    """Equal-count grams tie-break on longer joined text, then
    lexicographically greatest — same total order the DuckDB oracle
    replays."""
    from syzgydb_spark.operators.quality import duplication_stats

    # every bigram occurs exactly once; the longest is 'ggggg hhhhh'
    # (len 11); 'a b' etc. shorter. Winner contributes 1*11 chars.
    text = "a b c ggggg hhhhh"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = duplication_stats(df).collect()[0]
    assert out["top_2gram_char_frac"] == pytest.approx(11 / len(text))
