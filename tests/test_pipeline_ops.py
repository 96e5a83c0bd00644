"""Behavioral tests for the wave-2 curation operators — planted-case
and invariant checks that the oracle matrix (which only compares
engines) cannot express."""

from __future__ import annotations

from pyspark.sql import functions as F

from sql_engine_spark.operators import pipeline as P


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_containment_planted_subset(spark):
    """A doc fully quoted inside a longer doc has containment 1.0 in
    the short→long direction (the case symmetric Jaccard misses)."""
    short = "alpha beta gamma delta epsilon zeta"
    long_ = short + " eta theta iota kappa lam mu nu xi omicron pi rho sigma tau"
    filler = "one two three four five six seven eight nine ten eleven twelve"
    df = _docs(spark, [(1, short), (2, long_), (3, filler)])
    out = {(r.id_a, r.id_b): r.containment for r in P.containment_pairs(df, threshold=0.9).collect()}
    assert out[(1, 2)] == 1.0
    assert (2, 1) not in out  # long→short containment is well under 0.9
    assert not any(3 in k for k in out)


def test_containment_positional_filter_exact_vs_bruteforce(spark):
    """The b-side positional prune (|Sb| − p_b ≥ ⌈t·|Sa|⌉) must keep
    candidate generation an exact superset: on a random high-overlap
    corpus, containment_pairs equals the brute-force all-pairs answer
    at every threshold — if the prune ever drops the first common
    shingle of a true pair, a pair vanishes here."""
    import random

    rng = random.Random(4242)
    vocab = [f"w{i}" for i in range(40)]  # small vocab → heavy overlap
    rows = []
    for i in range(60):
        k = rng.randint(5, 25)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(k))))
    df = _docs(spark, rows)

    def sh_set(text: str, n: int = 3) -> set:
        w = text.split()
        return {" ".join(w[j : j + n]) for j in range(len(w) - n + 1)} if len(w) >= n else set()

    sets = {i: sh_set(t) for i, t in rows}
    for t in (0.5, 0.8):
        truth = {
            (a, b)
            for a in sets
            for b in sets
            if a != b and sets[a] and len(sets[a] & sets[b]) >= t * len(sets[a]) - 1e-9
        }
        got = {
            (r.id_a, r.id_b)
            for r in P.containment_pairs(df, threshold=t).collect()
        }
        assert got == truth, f"t={t}: missing={truth-got} extra={got-truth}"


def test_contamination_planted_benchmark_copy(spark):
    """A corpus doc that IS a benchmark doc scores contamination 1.0;
    an unrelated doc scores 0.0; benchmark rows are excluded."""
    bench_text = "the quick brown fox jumps over the lazy dog today"
    other = "completely different words about spark plans and shuffles here"
    df = _docs(spark, [(0, bench_text), (1, bench_text), (2, other)])
    out = {
        r.doc_id: r
        for r in P.benchmark_contamination(df, F.col("doc_id") == 0).collect()
    }
    assert set(out) == {1, 2}
    assert out[1].contamination == 1.0
    assert out[2].contamination == 0.0
    assert out[2].n_overlap == 0


def test_pack_sequences_budget_invariant(spark, sf_dir):
    """Every sequence's total fits the budget unless it is a single
    oversized doc; within a shard, doc order is preserved and seq ids
    are contiguous from 0."""
    from sql_engine_spark.catalog import load_table

    budget = 256
    docs = load_table(spark, sf_dir, "documents")
    rows = P.pack_sequences(docs, budget=budget, n_shards=8).collect()
    by_seq: dict[tuple, list] = {}
    for r in rows:
        by_seq.setdefault((r.shard, r.seq_id), []).append(r)
    for (_, _), members in by_seq.items():
        total = sum(m.n_tokens for m in members)
        assert total <= budget or len(members) == 1
    # per-shard: doc_id order increases with (seq_id, position), seq ids contiguous
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, members in by_shard.items():
        members.sort(key=lambda m: m.doc_id)
        seqs = [m.seq_id for m in members]
        assert seqs == sorted(seqs), f"seq ids must be monotone in doc order (shard {shard})"
        assert seqs[0] == 0
        assert set(seqs) == set(range(max(seqs) + 1))


def test_pack_sequences_oversized_doc_alone(spark):
    """A doc bigger than the budget gets its own sequence and does not
    poison its neighbours' packing."""
    big = " ".join(f"w{i}" for i in range(40))
    small = "a b c"
    df = _docs(spark, [(0, small), (8, big), (16, small)])  # all shard 0 (mod 8)
    out = sorted(
        P.pack_sequences(df, budget=10, n_shards=8).collect(), key=lambda r: r.doc_id
    )
    assert [r.seq_id for r in out] == [0, 1, 2]
    assert out[1].n_tokens == 40 and out[1].seq_fill == 40


def test_tfidf_rare_term_outranks_common(spark):
    """A term unique to one doc must outrank a corpus-wide term with
    equal tf — the idf direction check."""
    df = _docs(
        spark,
        [
            (1, "common common rare"),
            (2, "common common other"),
            (3, "common common words"),
        ],
    )
    top = {
        r.doc_id: r.term
        for r in P.tfidf_top_terms(df, k=1).collect()
    }
    assert top[1] == "rare"  # tf 1 but df 1 beats 'common' (tf 2, df 3)


def test_regex_scrub_counts_and_redacts(spark):
    df = _docs(spark, [(1, "call me at 555-12-3456 or a@b.com ok")])
    out = P.regex_scrub(df).collect()[0]
    assert out.n_hits == 2
    assert out.clean_len == len("call me at <X> or <X> ok")


def test_repetition_detects_boilerplate(spark):
    """A doc that repeats one phrase has high dup-bigram fraction and
    top-token share; a all-distinct doc has zero duplicate bigrams."""
    spam = " ".join(["buy now"] * 10)  # 20 tokens alternating
    clean = "alpha beta gamma delta epsilon zeta eta theta"
    df = _docs(spark, [(1, spam), (2, clean)])
    out = {r.doc_id: r for r in P.repetition_stats(df).collect()}
    assert out[1].n_distinct_bigrams == 2  # 'buy now' and 'now buy'
    assert out[1].dup_bigram_frac > 0.8
    assert out[1].top_token_share == 0.5
    assert out[2].dup_bigram_frac == 0.0


def test_containment_prefix_kills_hot_shingle_skew(spark):
    """x38's docstring claims the same df-ordered-prefix skew defence
    as x02 — prove it: with a corpus-wide hot phrase, the naive
    inverted index meets every ordered pair (m·(m−1) candidates),
    while rarest-first prefixes keep hot shingles out of probes and
    generate none."""
    import itertools

    from pyspark.sql import functions as F

    from sql_engine_spark.operators.dedup import shingle_hashes
    from sql_engine_spark.operators.pipeline import _containment_candidates

    words = ["".join(p) for p in itertools.product("abcdefghij", repeat=3)]
    hot = " ".join(f"hot{j}" for j in range(12))
    m = 40
    rows = [(i, " ".join(words[i * 10 : i * 10 + 10]) + " " + hot) for i in range(m)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = (
        df.select(F.col("doc_id").alias("id"), shingle_hashes("text", 3).alias("sh"))
        .withColumn("sz", F.size("sh"))
    )
    naive = (
        sh.select(F.col("id").alias("id_a"), F.explode("sh").alias("s"))
        .join(sh.select(F.col("id").alias("id_b"), F.explode("sh").alias("s")), "s")
        .filter("id_a != id_b")
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    assert naive == m * (m - 1)  # every ordered pair shares the hot phrase
    pruned = _containment_candidates(sh, 0.6).count()
    assert pruned < m  # hot shingles never reach a prefix probe
