"""Textops tests: relational MinHash/SimHash sketches (zero Python workers),
the LSH bucket-skew guard, and the exact-dup pre-collapse composition.

The sketch pipelines are pinned against *exact* ground truth: banding only
prunes candidates and the Jaccard verify stage restores exactness, so on a
corpus where banding recall is 1 the confirmed pairs must equal the
all-pairs shingle-Jaccard answer computed independently in Python.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from wbx import textops


def docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def py_shingles(text, k=3):
    toks = re.findall("[a-z0-9]+", text.lower())
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def py_jaccard_pairs(texts, k=3, threshold=0.5):
    sh = {i: py_shingles(t, k) for i, t in enumerate(texts) if t is not None}
    out = set()
    for a in sh:
        for b in sh:
            if a < b:
                inter = len(sh[a] & sh[b])
                union = len(sh[a] | sh[b])
                if union and inter / union >= threshold:
                    out.add((a, b))
    return out


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "on the warm windowsill and the birds sing in the garden outside"
)


def corpus():
    """Deterministic near-dup clusters + unrelated docs."""
    texts = []
    for i in range(6):
        # cluster 0: BASE with one word swapped per member — high jaccard
        texts.append(BASE.replace("garden", f"garden{i}") if i else BASE)
    for i in range(6):
        texts.append(f"completely different document number {i} about spark "
                     f"dataframes shuffles and partitions topic {i * 7}")
    texts.append("")  # empty
    texts.append("one two")  # < shingle_size tokens
    return texts


class TestShingles:
    def test_shingle_array_matches_python(self, spark):
        texts = corpus()
        rows = (
            docs_df(spark, texts)
            .select("doc_id", textops.shingle_array(F.col("text")).alias("sh"))
            .collect()
        )
        for r in rows:
            assert set(r["sh"]) == py_shingles(texts[r["doc_id"]])

    def test_empty_and_short_texts(self, spark):
        rows = (
            docs_df(spark, ["", "one two", None])
            .select("doc_id", textops.shingle_array(F.col("text")).alias("sh"))
            .collect()
        )
        got = {r["doc_id"]: r["sh"] for r in rows}
        assert got[0] == [""]
        assert got[1] == ["one two"]
        assert got[2] is None


class TestMinHash:
    def test_confirmed_pairs_equal_exact_jaccard(self, spark):
        texts = corpus()
        got = textops.dedup_minhash(docs_df(spark, texts), threshold=0.5)
        pairs = {(r["id_a"], r["id_b"]) for r in got.collect()}
        assert pairs == py_jaccard_pairs(texts, threshold=0.5)

    def test_signature_is_deterministic_and_parallelism_independent(self, spark):
        df = docs_df(spark, corpus())
        s1 = textops.minhash_signatures(df).collect()
        s2 = textops.minhash_signatures(df.repartition(7)).collect()
        assert sorted((r["doc_id"], tuple(r["signature"])) for r in s1) == sorted(
            (r["doc_id"], tuple(r["signature"])) for r in s2
        )

    def test_identical_docs_share_signature(self, spark):
        df = docs_df(spark, [BASE, BASE, "other words entirely here now"])
        sigs = {r["doc_id"]: tuple(r["signature"]) for r in textops.minhash_signatures(df).collect()}
        assert sigs[0] == sigs[1] != sigs[2]

    def test_exact_dup_storm_is_precollapsed_not_quadratic(self, spark):
        """north-rule skew guard: 10k byte-identical docs must NOT produce
        O(k²) candidate pairs inside the LSH self-join — pre-collapse sends
        one representative through the sketch, and near-dup pairs against
        OTHER texts are still found via the representative."""
        texts = [BASE] * 10_000 + [BASE.replace("garden", "meadow")]
        df = docs_df(spark, texts)
        got = textops.dedup_minhash(df, threshold=0.5)
        pairs = {(r["id_a"], r["id_b"]) for r in got.collect()}
        # representative of the storm is doc 0; the near-dup is doc 10000
        assert pairs == {(0, 10_000)}
        # and the candidate stage itself stayed linear: reps are 2 docs
        sigs = textops.minhash_signatures(
            df.withColumn("_rn", F.row_number().over(
                __import__("pyspark").sql.Window.partitionBy(F.md5("text")).orderBy("doc_id")
            )).filter(F.col("_rn") == 1).drop("_rn")
        )
        cands = textops.minhash_lsh_pairs(sigs)
        assert cands.count() <= 1

    def test_per_row_signatures_match_exploded_form(self, spark):
        """r6: minhash_signatures computes slot minima per-row
        (array_min over transforms); the values must stay bit-identical
        to the exploded minhash_signatures_items aggregate — including
        the slot constant actually reaching the hash (a two-parameter
        transform lambda would silently receive the ARRAY INDEX as its
        second argument, which this pin exists to catch)."""
        df = docs_df(spark, corpus() + ["", "one two"])
        new = {
            r["doc_id"]: list(r["signature"])
            for r in textops.minhash_signatures(df).collect()
        }
        shingled = df.filter(F.col("text").isNotNull()).select(
            "doc_id",
            F.explode(textops.shingle_array(F.col("text"), 3)).alias("_s"),
        )
        old = {
            r["doc_id"]: list(r["signature"])
            for r in textops.minhash_signatures_items(
                shingled, "doc_id", "_s"
            ).collect()
        }
        assert new == old

    def test_dedup_minhash_identical_across_signature_strategies(self, spark):
        """dedup_minhash evaluates signatures as the exploded
        aggregate (codegen'd, measured 2.4x faster than the interpreted
        per-row lambdas). The confirmed pair set must not depend on the
        input partitioning — including empty-text and exact-duplicate
        corners."""
        texts = corpus() + ["", BASE, "one two"]
        df = docs_df(spark, texts)
        a = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in textops.dedup_minhash(df, threshold=0.5).collect()
        }
        assert a == {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in textops.dedup_minhash(
                df.repartition(7), threshold=0.5
            ).collect()
        }

    def test_bucket_cap_drops_degenerate_buckets(self, spark):
        # 50 distinct docs engineered to share NO high-jaccard similarity;
        # with max_bucket=1 every bucket with >1 member is dropped → no pairs
        texts = [f"unique document {i} with words {i*3} {i*5} {i*7}" for i in range(50)]
        sigs = textops.minhash_signatures(docs_df(spark, texts))
        assert textops.minhash_lsh_pairs(sigs, max_bucket=1).count() == 0


class TestSimHash:
    def test_identical_texts_distance_zero(self, spark):
        df = docs_df(spark, [BASE, BASE])
        h = {r["doc_id"]: r["simhash"] for r in textops.simhash(df).collect()}
        assert h[0] == h[1]

    def test_near_duplicates_found_by_blocking(self, spark):
        texts = [BASE, BASE.replace("garden", "meadow"),
                 "totally unrelated text about databases indexes and caches"]
        hashes = textops.simhash(docs_df(spark, texts))
        pairs = textops.simhash_near_pairs(hashes, max_hamming=16)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert (0, 1) in got
        assert (0, 2) not in got and (1, 2) not in got

    def test_deterministic_across_parallelism(self, spark):
        df = docs_df(spark, corpus())
        h1 = sorted((r["doc_id"], r["simhash"]) for r in textops.simhash(df).collect())
        h2 = sorted(
            (r["doc_id"], r["simhash"])
            for r in textops.simhash(df.repartition(5)).collect()
        )
        assert h1 == h2

    def test_tokenless_docs_produce_no_rows(self, spark):
        df = docs_df(spark, ["", None, "real words here"])
        rows = textops.simhash(df).collect()
        assert [r["doc_id"] for r in rows] == [2]

    def test_bucket_cap_drops_identical_hash_storm(self, spark):
        """r6 skew guard: 40 byte-identical docs share one simhash → every
        chunk bucket holds all 40 → with max_bucket below that the storm
        emits NO pairs (the quadratic join input is capped), while a
        genuine near-dup pair outside the storm still pairs; max_bucket
        None reproduces the exact (storm-quadratic) pair set."""
        storm = ["identical boilerplate page content here"] * 40
        texts = storm + [BASE, BASE.replace("garden", "meadow")]
        hashes = textops.simhash(docs_df(spark, texts))
        capped = textops.simhash_near_pairs(hashes, max_hamming=16, max_bucket=10)
        got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
        assert (40, 41) in got
        assert not any(a < 40 and b < 40 for a, b in got)
        exact = textops.simhash_near_pairs(hashes, max_hamming=16, max_bucket=None)
        n_exact = exact.filter((F.col("id_a") < 40) & (F.col("id_b") < 40)).count()
        assert n_exact == 40 * 39 // 2  # the uncapped storm IS quadratic

    def test_precollapse_identical_keeps_representative_pairing(self, spark):
        """precollapse_identical collapses an identical-simhash group to
        its min id: the storm contributes no intra-group pairs, and cross
        pairs surface through the representative only."""
        storm = ["identical boilerplate page content here"] * 15
        texts = storm + [BASE, BASE.replace("garden", "meadow")]
        hashes = textops.simhash(docs_df(spark, texts))
        pairs = textops.simhash_near_pairs(
            hashes, max_hamming=16, max_bucket=None, precollapse_identical=True
        )
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert (15, 16) in got
        # the storm survives only as its min-id representative (id 0):
        # every id in any pair is 0, 15 or 16 — never a collapsed member
        assert {i for p in got for i in p} <= {0, 15, 16}


class TestWinnowing:
    """rolling_hashes + winnow (SIGMOD'03 winnowing): pure-Column operators,
    pinned on their algebraic guarantees rather than hash constants."""

    def test_rolling_hash_count_and_shift_invariance(self, spark):
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        df = docs_df(spark, [base, "PREFIX " + base]).select(
            "doc_id", textops.rolling_hashes(F.col("text"), window=4).alias("h")
        )
        rows = {r["doc_id"]: list(r["h"]) for r in df.collect()}
        assert len(rows[0]) == 10 - 4 + 1
        assert len(rows[1]) == 11 - 4 + 1
        # the same 4-gram windows hash identically wherever they appear
        assert rows[1][1:] == rows[0]

    def test_short_text_empty(self, spark):
        df = docs_df(spark, ["one two three", ""]).select(
            textops.rolling_hashes(F.col("text"), window=8).alias("h")
        )
        assert [list(r["h"]) for r in df.collect()] == [[], []]

    def test_winnow_guarantee_property(self, spark):
        # two docs sharing a run of >= `guarantee` tokens MUST share a
        # fingerprint; disjoint docs share none
        shared = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eleifend"
        texts = [
            "intro words here " + shared + " tail one",
            "completely different opening " + shared,
            "unrelated content about spark partitions and shuffles entirely",
        ]
        df = docs_df(spark, texts).select(
            "doc_id", textops.winnow(F.col("text"), window=4, guarantee=8).alias("fp")
        )
        fps = {r["doc_id"]: set(r["fp"]) for r in df.collect()}
        assert fps[0] & fps[1]
        assert not (fps[0] & fps[2]) and not (fps[1] & fps[2])

    def test_winnow_subset_of_rolling_and_deterministic(self, spark):
        texts = ["alpha beta gamma delta epsilon zeta eta theta iota kappa"] * 2
        df = docs_df(spark, texts).select(
            "doc_id",
            textops.winnow(F.col("text"), window=4, guarantee=8).alias("fp"),
            textops.rolling_hashes(F.col("text"), window=4).alias("h"),
        )
        rows = df.collect()
        assert list(rows[0]["fp"]) == list(rows[1]["fp"])  # identical docs
        assert set(rows[0]["fp"]) <= set(rows[0]["h"])  # selection, no invention

    def test_winnow_null_text_is_null_not_phantom(self, spark):
        # NULL in -> NULL out (consistent with rolling_hashes); without the
        # guard two NULL-text docs would share a phantom [NULL] fingerprint
        df = docs_df(spark, [None, None, "short"]).select(
            "doc_id", textops.winnow(F.col("text"), window=4, guarantee=8).alias("fp")
        )
        rows = {r["doc_id"]: r["fp"] for r in df.collect()}
        assert rows[0] is None and rows[1] is None
        assert rows[2] == []  # too short: empty, not NULL

    def test_winnow_validates_params(self, spark):
        with pytest.raises(ValueError, match="guarantee"):
            textops.winnow(F.lit("x"), window=8, guarantee=4)


class TestBpeTokenCount:
    def test_matches_python_reference(self, spark):
        import re as _re

        pat = _re.compile(textops.BPE_TOKEN_RE)
        texts = [
            "Hello world, it's 2024!",
            "don't stop-me now... 42abc",
            "  leading spaces\tand\nnewlines  ",
            "",
            "café résumé — unicode falls in the punct class",
        ]
        df = docs_df(spark, texts).select(
            "doc_id", textops.bpe_token_count(F.col("text")).alias("n")
        )
        got = {r["doc_id"]: r["n"] for r in df.collect()}
        for i, t in enumerate(texts):
            expect = sum(1 for m in pat.findall(t) if m.strip())
            assert got[i] == expect, (t, got[i], expect)

    def test_whitespace_only_counts_zero(self, spark):
        df = docs_df(spark, [" \t\n ", "one two"]).select(
            textops.bpe_token_count(F.col("text")).alias("n")
        )
        assert [r["n"] for r in df.collect()] == [0, 2]


class TestRepetitionFeatures:
    def test_known_document(self, spark):
        # 4 non-empty lines: "a b", "a b", "- x", "done..."; dup pair, one
        # bullet, one ellipsis; tokens: a b a b x done (6, 4 distinct)
        text = "a b\na b\n\n- x\ndone..."
        row = (
            docs_df(spark, [text])
            .select(
                *[
                    v.alias(k)
                    for k, v in textops.repetition_features(F.col("text")).items()
                ]
            )
            .first()
        )
        assert row["n_lines"] == 4
        assert row["dup_line_frac"] == pytest.approx(1 / 4)
        # chars: lines 3+3+3+7=16, distinct 3+3+7=13 → 3/16
        assert row["dup_line_char_frac"] == pytest.approx(3 / 16)
        assert row["dup_token_frac"] == pytest.approx(2 / 6)
        assert row["ellipsis_line_frac"] == pytest.approx(1 / 4)
        assert row["bullet_line_frac"] == pytest.approx(1 / 4)

    def test_null_text_propagates_null_and_keep_false(self, spark):
        df = docs_df(spark, [None]).select(
            textops.repetition_features(F.col("text"))["dup_line_frac"].alias("f"),
            textops.gopher_keep(F.col("text")).alias("keep"),
        )
        row = df.first()
        assert row["f"] is None
        assert row["keep"] is False

    def test_gopher_keep_accepts_clean_prose_rejects_repetition(self, spark):
        clean = (
            "the quick brown fox jumps over the lazy dog and then the dog "
            "sleeps while a bird sings in the tree because it is a warm day "
            "and the sun is bright so all the animals are happy to be out "
            "in the field where the grass is green and the water is clear"
        )
        spam = ("buy now\n" * 30) + "visit shop today"
        got = {
            r["doc_id"]: r["keep"]
            for r in docs_df(spark, [clean, spam])
            .select("doc_id", textops.gopher_keep(F.col("text")).alias("keep"))
            .collect()
        }
        assert got[0] is True
        assert got[1] is False  # 29/30 duplicate lines


class TestTopNgramFrac:
    def test_mode_fraction(self, spark):
        # bigrams of "a b a b a": ab ba ab ba → top 2/4
        out = {
            r["doc_id"]: r["top_ngram_frac"]
            for r in textops.top_ngram_frac(
                docs_df(spark, ["a b a b a", "x y z"]), n=2
            ).collect()
        }
        assert out[0] == pytest.approx(0.5)
        assert out[1] == pytest.approx(1 / 2)  # xy yz → max 1 / total 2

    def test_docs_below_n_tokens_absent(self, spark):
        out = textops.top_ngram_frac(docs_df(spark, ["solo", "", None]), n=2)
        assert out.count() == 0


class TestDedupParagraphs:
    def test_first_occurrence_wins(self, spark):
        d0 = "alpha\n\nshared para"
        d1 = "shared para\n\nbeta"
        out = textops.dedup_paragraphs(docs_df(spark, [d0, d1])).collect()
        by_hash = {r["para_hash"]: (r["doc_id"], r["para_idx"]) for r in out}
        assert len(out) == 3  # alpha, shared, beta
        import hashlib

        shared_h = hashlib.md5(b"shared para").hexdigest()
        assert by_hash[shared_h] == (0, 1)  # doc0 pos1 beats doc1 pos0

    def test_exchange_carries_digest_not_text(self, spark):
        import io, contextlib

        df = textops.dedup_paragraphs(docs_df(spark, ["a\n\nb", "b\n\nc"]))
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        # the shuffled attributes must be the digest, never the paragraph text
        import re as _re

        args = _re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        assert args, plan
        assert any("para_hash#" in a for a in args), plan
        assert all("para#" not in a and "text#" not in a for a in args), plan


class TestPiiScrub:
    def test_exact_replacements(self, spark):
        text = (
            "write bob.smith+x@Mail-Host.org or call 555-867-5309; "
            "server at 192.168.0.1 responded"
        )
        got = docs_df(spark, [text]).select(
            textops.pii_scrub(F.col("text")).alias("t")
        ).first()["t"]
        assert got == "write <EMAIL> or call <PHONE>; server at <IP> responded"

    def test_plain_text_unchanged(self, spark):
        text = "no pii here, just words and numbers like 42 and 3.14"
        got = docs_df(spark, [text]).select(
            textops.pii_scrub(F.col("text")).alias("t")
        ).first()["t"]
        assert got == text


class TestDupNgramCharFrac:
    def test_known_repetition(self, spark):
        # 11 tokens, 7 5-grams; "a b c d e" occurs twice (9 chars each):
        # dup chars 2*9=18 of total 7*9=63
        out = textops.dup_ngram_char_frac(
            docs_df(spark, ["a b c d e a b c d e x", "u v w x y z"]), n=5
        ).collect()
        got = {r["doc_id"]: r["dup_ngram_char_frac"] for r in out}
        assert got[0] == pytest.approx(18 / 63, abs=1e-6)
        assert got[1] == 0.0  # all 5-grams unique

    def test_short_docs_absent(self, spark):
        out = textops.dup_ngram_char_frac(docs_df(spark, ["a b c d", None]), n=5)
        assert out.count() == 0


class TestDecontaminate:
    def test_overlap_detection(self, spark):
        doc = "one two three four five six seven eight nine ten"
        partial = "zzz one two three four five six seven eight qqq"
        clean = "totally different words with no shared gram run here at all"
        docs = docs_df(spark, [doc, partial, clean])
        bench = spark.createDataFrame([(doc,)], "text string")
        out = {
            r["doc_id"]: r["n_hits"]
            for r in textops.decontaminate_ngram_overlap(
                docs, bench, n=8
            ).collect()
        }
        # doc 0 == benchmark: 3 distinct 8-grams, all hit; doc 1 contains
        # the run "one..eight" = exactly 1 of the benchmark's 8-grams
        assert out[0] == 3
        assert out[1] == 1
        assert 2 not in out

    def test_hashed_and_string_paths_agree(self, spark):
        docs = docs_df(spark, [BASE, BASE.replace("garden", "yard"), "other"])
        bench = spark.createDataFrame([(BASE,)], "text string")
        a = sorted(
            (r["doc_id"], r["n_hits"])
            for r in textops.decontaminate_ngram_overlap(
                docs, bench, n=8, hash_grams=True
            ).collect()
        )
        b = sorted(
            (r["doc_id"], r["n_hits"])
            for r in textops.decontaminate_ngram_overlap(
                docs, bench, n=8, hash_grams=False
            ).collect()
        )
        assert a == b


class TestRemoveDuplicateLines:
    def test_first_occurrence_kept(self, spark):
        rows = [
            ("a\nb\na\nc\nb\na", "a\nb\nc"),
            ("only", "only"),
            ("x\n\ny\n\nx", "x\n\ny"),  # blank repeats collapse too
            (None, None),
        ]
        df = spark.createDataFrame(rows, "t string, want string")
        got = df.select(
            textops.remove_duplicate_lines(F.col("t")).alias("o"), "want"
        ).collect()
        for r in got:
            assert r["o"] == r["want"], (r["o"], r["want"])

    def test_idempotent(self, spark):
        df = spark.createDataFrame(
            [("h\nh\nbody line\nh\nbody line",)], "t string"
        )
        once = df.select(textops.remove_duplicate_lines(F.col("t")).alias("c1"))
        r = once.select(
            "c1", textops.remove_duplicate_lines(F.col("c1")).alias("c2")
        ).first()
        assert r["c2"] == r["c1"]


class TestBoilerplateLines:
    def _docs(self, spark):
        # 'FOOTER' in all 6 docs; 'HALF' in 3 of 6 (exactly the 0.5
        # threshold); 'rare i' unique per doc; blank lines everywhere
        rows = [
            (i, f"body {i}\nFOOTER\n" + ("HALF\n" if i % 2 == 0 else "") + f"\nrare {i}")
            for i in range(6)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_frequent_lines_threshold(self, spark):
        docs = self._docs(spark)
        freq = textops.frequent_lines(docs, min_df_frac=0.5)
        dfs = {
            r["df"] for r in freq.collect()
        }
        # FOOTER df=6 and HALF df=3 (== ceil(0.5*6)) qualify; blank lines
        # (len 0 < min_len 1) and per-doc uniques do not
        assert dfs == {6, 3}
        assert freq.count() == 2

    def test_removal_rewrites_all_occurrences(self, spark):
        docs = self._docs(spark)
        out = {
            r["doc_id"]: (r["text"], r["n_boiler_lines"])
            for r in textops.remove_boilerplate_lines(
                docs, min_df_frac=0.5
            ).collect()
        }
        assert out[0] == ("body 0\n\nrare 0", 2)  # FOOTER + HALF dropped
        assert out[1] == ("body 1\n\nrare 1", 1)  # FOOTER dropped
        # blank line survives (below min_len, never counted or removed)

    def test_all_lines_removed_doc(self, spark):
        docs = spark.createDataFrame(
            [(0, "SAME"), (1, "SAME"), (2, "SAME\nextra")],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: (r["text"], r["n_boiler_lines"])
            for r in textops.remove_boilerplate_lines(
                docs, min_df_frac=0.9
            ).collect()
        }
        assert out[0] == ("", 1)
        assert out[2] == ("extra", 1)

    def test_min_len_guard(self, spark):
        # short repeated lines under min_len are immune
        docs = spark.createDataFrame(
            [(i, f"ok\nlong shared line\nu{i}") for i in range(4)],
            "doc_id long, text string",
        )
        out = textops.remove_boilerplate_lines(docs, min_df_frac=0.9, min_len=3)
        got = out.filter(F.col("doc_id") == 0).first()
        assert got["text"] == "ok\nu0"
        assert got["n_boiler_lines"] == 1

    def test_repeat_within_doc_counts_once(self, spark):
        # one doc repeating a line 3× does not push it over a df threshold
        docs = spark.createDataFrame(
            [(0, "nav\nnav\nnav\nx"), (1, "a"), (2, "b"), (3, "c")],
            "doc_id long, text string",
        )
        assert textops.frequent_lines(docs, min_df_frac=0.5).count() == 0

    def test_out_col_and_staging_guard(self, spark):
        docs = self._docs(spark)
        out = textops.remove_boilerplate_lines(docs, out_col="clean")
        assert "clean" in out.columns and "text" in out.columns
        import pytest as _pytest

        with _pytest.raises(ValueError, match="_bl_hashes"):
            textops.remove_boilerplate_lines(
                docs.withColumn("_bl_hashes", F.lit(1))
            )

    def test_count_shuffle_is_hash_only(self, spark):
        # the df-count aggregate must not carry line text across the wire
        docs = self._docs(spark)
        plan = textops.frequent_lines(docs)._jdf.queryExecution().toString()
        import re

        for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
            assert "_line" not in m.group(1) and "text" not in m.group(1)


class TestC4Clean:
    def test_line_rules(self, spark):
        text = (
            "This line is properly terminated.\n"
            "too short.\n"
            "no terminal punctuation here at all\n"
            "Enable javascript to view this page.\n"
            'A quoted ending counts as terminal."'
        )
        got = docs_df(spark, [text]).select(
            textops.c4_clean_lines(F.col("text")).alias("t")
        ).first()["t"]
        assert got == (
            "This line is properly terminated.\n"
            'A quoted ending counts as terminal."'
        )

    def test_doc_gate(self, spark):
        good = "One sentence here. Two now. Three more. Four yes. Five done."
        brace = good + " {"
        lorem = good + " lorem ipsum dolor"
        few = "Only one sentence appears right here."
        got = {
            r["doc_id"]: r["keep"]
            for r in docs_df(spark, [good, brace, lorem, few, None])
            .select("doc_id", textops.c4_doc_keep(F.col("text")).alias("keep"))
            .collect()
        }
        assert got == {0: True, 1: False, 2: False, 3: False, 4: False}


class TestCorpusTopTokens:
    def test_counts_and_tiebreak(self, spark):
        df = docs_df(spark, ["b b a a c", "a b z"])
        got = [
            (r["token"], r["n"])
            for r in textops.corpus_top_tokens(df, k=3).collect()
        ]
        # a:3 b:3 c:1 z:1 → top3 = a, b (tie → asc token), then c (c < z)
        assert got == [("a", 3), ("b", 3), ("c", 1)]

    def test_plan_uses_take_ordered_not_global_sort(self, spark):
        import contextlib, io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            textops.corpus_top_tokens(docs_df(spark, ["a b"]), k=5).explain(
                mode="formatted"
            )
        plan = buf.getvalue()
        assert "TakeOrderedAndProject" in plan, plan


class TestChunkDocuments:
    def _docs(self, spark, *texts):
        return spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )

    def test_windows_and_overlap(self, spark):
        from wbx.textops import chunk_documents

        docs = self._docs(spark, " ".join("w%d" % i for i in range(10)))
        out = chunk_documents(docs, chunk_words=4, overlap_words=1).collect()
        got = [(r["chunk_id"], r["n_words"], r["chunk_text"]) for r in sorted(out, key=lambda r: r["chunk_id"])]
        assert got == [
            (0, 4, "w0 w1 w2 w3"),
            (1, 4, "w3 w4 w5 w6"),
            (2, 4, "w6 w7 w8 w9"),
        ]

    def test_short_doc_single_chunk_and_whitespace_normalization(self, spark):
        from wbx.textops import chunk_documents

        docs = self._docs(spark, "  a\n\nb\t c  ")
        out = chunk_documents(docs, chunk_words=100, overlap_words=10).collect()
        assert len(out) == 1
        assert out[0]["chunk_text"] == "a b c"
        assert out[0]["n_words"] == 3

    def test_null_and_exact_boundary(self, spark):
        from wbx.textops import chunk_documents

        docs = spark.createDataFrame(
            [(0, None), (1, " ".join("t%d" % i for i in range(8)))],
            "doc_id long, text string",
        )
        out = chunk_documents(docs, chunk_words=4, overlap_words=0)
        rows = sorted(
            (r["doc_id"], r["chunk_id"], r["chunk_text"]) for r in out.collect()
        )
        # NULL text: no rows; n == 2*chunk at stride 4 -> exactly 2 chunks
        assert rows == [
            (1, 0, "t0 t1 t2 t3"),
            (1, 1, "t4 t5 t6 t7"),
        ]

    def test_overlap_validation(self, spark):
        import pytest as _pytest
        from wbx.textops import chunk_documents

        with _pytest.raises(ValueError):
            chunk_documents(self._docs(spark, "x"), chunk_words=4, overlap_words=4)


class TestScriptAndEntropy:
    def test_trigram_entropy_matches_reference(self, spark):
        import math
        from collections import Counter

        from wbx.textops import trigram_entropy

        texts = [
            (0, "The quick brown fox jumps over the lazy dog."),
            (1, "aaaaaaaaaaaaaaaa"),          # degenerate: one gram, H = 0
            (2, "ab"),                         # < 3 chars: no row
            (3, None),                         # NULL: no row
            (4, "x  Y\n\tz mixed   WS"),       # normalization exercised
        ]
        out = {
            r["doc_id"]: r["tri_entropy"]
            for r in trigram_entropy(
                spark.createDataFrame(texts, "doc_id long, text string")
            ).collect()
        }

        def ref(t):
            s = " ".join(t.lower().split())
            g = [s[i : i + 3] for i in range(len(s) - 2)]
            c = Counter(g)
            n = len(g)
            return round(
                math.log(n) - sum(v * math.log(v) for v in c.values()) / n, 6
            )

        assert set(out) == {0, 1, 4}
        for d in (0, 1, 4):
            assert out[d] == ref(texts[d][1]), d

    def test_script_profile(self, spark):
        from pyspark.sql import functions as F

        from wbx.textops import script_profile

        rows = [
            (0, "plain english words"),
            (1, "Привет мир"),
            (2, "日本語テキスト"),
            (3, "mixed Привет text latin wins"),
            (4, "12345 !!!"),  # no script chars at all
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        prof = script_profile(F.col("text"))
        got = {
            r["doc_id"]: (r["dom"], r["n_latin"], r["n_cyrillic"], r["n_cjk"])
            for r in df.select(
                "doc_id",
                prof["script_dom"].alias("dom"),
                prof["n_latin"].alias("n_latin"),
                prof["n_cyrillic"].alias("n_cyrillic"),
                prof["n_cjk"].alias("n_cjk"),
            ).collect()
        }
        assert got[0] == ("latin", 17, 0, 0)
        assert got[1] == ("cyrillic", 0, 9, 0)
        assert got[2] == ("cjk", 0, 0, 7)
        assert got[3][0] == "latin" and got[3][2] == 6
        assert got[4] == ("unknown", 0, 0, 0)


class TestPackShards:
    """pack_shards: global exclusive prefix sum → fixed-budget shard ids.
    Ground truth is a driver-side cumsum over the same token counts."""

    def _expected(self, rows, budget):
        out = {}
        start = 0
        for doc_id, text in sorted(rows):
            n = len([t for t in text.split() if t])
            out[doc_id] = (n, start, start // budget, start % budget)
            start += n
        return out

    def test_matches_driver_cumsum(self, spark):
        rows = [
            (i, " ".join(f"w{j}" for j in range((i * 7) % 11 + 1)))
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        from wbx.textops import pack_shards

        got = {
            r["doc_id"]: (
                r["n_tokens"],
                r["start_offset"],
                r["shard_id"],
                r["shard_offset"],
            )
            for r in pack_shards(df, budget_tokens=37).collect()
        }
        assert got == self._expected(rows, 37)

    def test_parallelism_invariant_and_dense(self, spark):
        rows = [(i, "a b c " * ((i % 5) + 1)) for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        from wbx.textops import pack_shards

        a = pack_shards(df.repartition(1), budget_tokens=50).collect()
        b = pack_shards(df.repartition(17), budget_tokens=50).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        shard_ids = sorted({r["shard_id"] for r in a})
        assert shard_ids == list(range(len(shard_ids)))  # dense from 0

    def test_empty_and_blank_docs(self, spark):
        rows = [(0, ""), (1, "   "), (2, "one two"), (3, "x")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        from wbx.textops import pack_shards

        got = {
            r["doc_id"]: (r["n_tokens"], r["start_offset"], r["shard_id"])
            for r in pack_shards(df, budget_tokens=2).collect()
        }
        assert got[0] == (0, 0, 0)
        assert got[1] == (0, 0, 0)
        assert got[2] == (2, 0, 0)
        assert got[3] == (1, 2, 1)


class TestHashedLinearScore:
    """hashed_linear_score: exact integer score parity with a driver-side
    reimplementation of the same hash→milli-weight arithmetic."""

    def _expected(self, text, seed=13):
        import hashlib
        import re

        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        ss = sum(
            int(hashlib.md5(f"{f}#{seed}".encode()).hexdigest()[:15], 16)
            % 2001
            - 1000
            for f in feats
        )
        n = len(feats)
        qs = round(ss / (1000.0 * n), 6) if n else 0.0
        return (n, ss, qs, ss >= 0)

    def test_matches_driver_arithmetic(self, spark):
        from wbx import sampling
        from wbx.textops import hashed_linear_score

        rows = [
            (0, "Good clean article text, with Facts and number 42."),
            (1, ""),
            (3, "spam spam spam buy now!!!"),
            (4, "one"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (
                r["n_feats"],
                r["score_sum"],
                r["quality_score"],
                r["keep"],
            )
            for r in hashed_linear_score(
                df, seed=13, hasher=sampling.md5_seeded
            ).collect()
        }
        for doc_id, text in rows:
            assert got[doc_id] == self._expected(text), doc_id

    def test_null_text_propagates_null(self, spark):
        from wbx.textops import hashed_linear_score

        df = spark.createDataFrame([(0, None)], "doc_id long, text string")
        r = hashed_linear_score(df).collect()[0]
        assert r["n_feats"] is None and r["quality_score"] is None
        assert r["keep"] is None

    def test_threshold_and_unigram_knobs(self, spark):
        from wbx import sampling
        from wbx.textops import hashed_linear_score

        df = spark.createDataFrame(
            [(0, "alpha beta gamma")], "doc_id long, text string"
        )
        uni = hashed_linear_score(
            df, bigrams=False, hasher=sampling.md5_seeded
        ).collect()[0]
        assert uni["n_feats"] == 3  # no bigram features
        # a threshold above the max possible mean weight rejects everything
        hi = hashed_linear_score(df, threshold=1.5).collect()[0]
        assert hi["keep"] is False

    def test_default_hasher_plan_is_jvm_only(self, spark):
        from wbx.textops import hashed_linear_score
        from tests.test_plans import plan_str

        df = spark.createDataFrame(
            [(0, "alpha beta")], "doc_id long, text string"
        )
        plan = plan_str(hashed_linear_score(df), "simple")
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestCuratePipeline:
    """curate_flags / curation_report / curate_corpus: the composed
    gate→classifier→dedup→decontaminate→pack pipeline."""

    GOOD = (
        "The quick brown fox jumps over the lazy dog and then runs away. "
        "It was a bright day and the sun was shining over the green hill. "
        "People walked along the road and talked about the news of the day. "
        "The market was full of fresh fruit and the sellers called out loud. "
        "Children played near the river while their parents watched with care. "
        "Everyone agreed that the town had never looked better than today."
    )

    def _docs(self, spark):
        rows = [
            (0, self.GOOD),
            (1, self.GOOD),  # exact duplicate of 0 -> not a survivor
            (2, self.GOOD.replace("fox", "cat { code }")),  # c4 fail: '{'
            (3, "short text. one. two. three. four. five."),  # gopher fail
            (4, self.GOOD.replace("quick brown fox", "other words here")),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string"), rows

    def test_flags_and_funnel(self, spark):
        from wbx import sampling
        from wbx.textops import curate_flags, curation_report

        df, rows = self._docs(spark)
        bench = spark.createDataFrame(
            [(0, self.GOOD)], "bench_id long, text string"
        )
        flags = curate_flags(df, bench, hasher=sampling.md5_seeded)
        got = {r["doc_id"]: r.asDict() for r in flags.collect()}
        assert got[2]["c4_ok"] is False
        assert got[0]["c4_ok"] and got[0]["gopher_ok"]
        assert got[3]["gopher_ok"] is False  # < 50 tokens
        # exact dup: min-id wins
        assert got[0]["exact_survivor"] is True
        assert got[1]["exact_survivor"] is False
        # docs 0/1 share every 8-gram with the benchmark; doc 4 diverges
        # early but still shares 8-grams from the common tail -> flagged;
        # doc 3 shares none
        assert got[0]["decon_ok"] is False
        assert got[3]["decon_ok"] is True
        # funnel: one-row agg, cumulative, monotone non-increasing
        rep = {
            r["stage"]: r["n_pass"] for r in curation_report(flags).collect()
        }
        assert rep["input"] == 5
        order = ["input", "c4_ok", "gopher_ok", "clf_ok",
                 "exact_survivor", "decon_ok"]
        vals = [rep[s] for s in order]
        assert vals == sorted(vals, reverse=True)

    def test_corpus_matches_flags_and_packs(self, spark):
        from wbx import sampling
        from wbx.textops import (
            curate_corpus,
            curate_flags,
            pack_shards,
        )

        df, _ = self._docs(spark)
        flags = curate_flags(df, hasher=sampling.md5_seeded)
        expected_ids = {
            r["doc_id"]
            for r in flags.collect()
            if all(
                r[s]
                for s in ("c4_ok", "gopher_ok", "clf_ok",
                          "exact_survivor", "decon_ok")
            )
        }
        curated = curate_corpus(df, hasher=sampling.md5_seeded)
        assert {r["doc_id"] for r in curated.collect()} == expected_ids
        assert "clean_text" not in curated.columns  # renamed back to text
        packed = curate_corpus(
            df, budget_tokens=30, hasher=sampling.md5_seeded
        )
        ref = {
            r["doc_id"]: r["shard_id"]
            for r in pack_shards(curated, 30).collect()
        }
        got = {r["doc_id"]: r["shard_id"] for r in packed.collect()}
        assert got == ref
        from wbx.frontier import release_rank_caches

        release_rank_caches()


class TestUnigramNLL:
    def test_matches_driver_model(self, spark):
        import math
        import re
        from collections import Counter

        from wbx.textops import unigram_nll

        rows = [
            (0, "the cat sat on the mat"),
            (1, "the dog sat on the log"),
            (2, "zyx qwv zyx"),  # rare tokens -> OOV backoff
            (3, ""),  # token-less -> absent
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_toks"], r["unigram_nll"])
            for r in unigram_nll(df, min_count=2).collect()
        }
        toks = {
            i: [t for t in re.split(r"[^a-z0-9]+", txt.lower()) if t]
            for i, txt in rows
        }
        vocab = Counter(t for ts in toks.values() for t in ts)
        N = sum(vocab.values())
        for i, ts in toks.items():
            if not ts:
                assert i not in got
                continue
            s = sum(
                math.log(vocab[t] if vocab[t] >= 2 else 0.5) for t in ts
            )
            exp = round(math.log(N) - s / len(ts), 6)
            assert got[i] == (len(ts), exp), i
        # doc 2 (all-OOV) must score strictly worse than doc 0
        assert got[2][1] > got[0][1]

    def test_deterministic_across_partitioning(self, spark):
        from wbx.textops import unigram_nll

        rows = [(i, f"alpha beta w{i % 7} gamma") for i in range(60)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = sorted(map(tuple, unigram_nll(df.repartition(1)).collect()))
        b = sorted(map(tuple, unigram_nll(df.repartition(13)).collect()))
        assert a == b


class TestScoreBuckets:
    """score_buckets: exact NTILE parity with DuckDB at awkward N/n."""

    def _duck_ntile(self, pairs, n):
        import duckdb

        con = duckdb.connect()
        con.execute("CREATE TABLE t (doc_id BIGINT, s DOUBLE)")
        con.executemany("INSERT INTO t VALUES (?, ?)", pairs)
        return dict(
            con.sql(
                f"SELECT doc_id, NTILE({n}) OVER (ORDER BY s, doc_id) FROM t"
            ).fetchall()
        )

    def test_ntile_parity_and_labels(self, spark):
        from wbx.frontier import release_rank_caches
        from wbx.textops import score_buckets

        pairs = [(i, float((i * 37) % 11) + i / 100.0) for i in range(23)]
        df = spark.createDataFrame(pairs, "doc_id long, unigram_nll double")
        got = {
            r["doc_id"]: (r["bucket"], r["bucket_label"])
            for r in score_buckets(df, n_buckets=3).collect()
        }
        exp = self._duck_ntile(pairs, 3)
        labels = {1: "head", 2: "middle", 3: "tail"}
        for i, b in exp.items():
            assert got[i] == (b, labels[b]), i
        release_rank_caches()

    def test_fewer_rows_than_buckets_and_nulls(self, spark):
        from wbx.frontier import release_rank_caches
        from wbx.textops import score_buckets

        rows = [(0, 5.0), (1, 1.0), (2, None)]
        df = spark.createDataFrame(rows, "doc_id long, unigram_nll double")
        got = {
            r["doc_id"]: r["bucket"]
            for r in score_buckets(df, n_buckets=5, labels=None).collect()
        }
        assert got == {1: 1, 0: 2}  # NULL excluded; NTILE = rank when N < n
        release_rank_caches()


def py_dedup_substrings(texts, window, min_count=2):
    """Driver-side ExactSubstr reference: string window-grams (no hashing),
    corpus-wide occurrence counts, all copies of duplicated spans removed."""
    from collections import Counter

    toks = {
        i: re.findall("[a-z0-9]+", t.lower())
        for i, t in enumerate(texts)
        if t is not None
    }
    cnt = Counter()
    grams = {}
    for i, ts in toks.items():
        g = [" ".join(ts[p : p + window]) for p in range(len(ts) - window + 1)]
        grams[i] = g
        cnt.update(g)
    out = {}
    for i, ts in toks.items():
        covered = set()
        ndw = 0
        for p, gr in enumerate(grams[i]):
            if cnt[gr] >= min_count:
                ndw += 1
                covered.update(range(p, p + window))
        kept = [t for j, t in enumerate(ts) if j not in covered]
        out[i] = (len(ts), ndw, len(ts) - len(kept), " ".join(kept))
    return out


class TestDedupSubstrings:
    def _run(self, spark, texts, window, **kw):
        out = textops.dedup_substrings(docs_df(spark, texts), window=window, **kw)
        return {
            r["doc_id"]: (
                r["n_tokens"],
                r["n_dup_windows"],
                r["n_removed"],
                r["clean_text"],
            )
            for r in out.collect()
        }

    def test_cross_doc_span_removed_from_all_copies(self, spark):
        shared = "one two three four five"
        texts = [f"alpha beta {shared} gamma", f"delta {shared} epsilon zeta"]
        got = self._run(spark, texts, window=5)
        # the 5-token shared run is the only duplicated window; ALL copies drop
        assert got[0] == (8, 1, 5, "alpha beta gamma")
        assert got[1] == (8, 1, 5, "delta epsilon zeta")

    def test_within_doc_repeat_counts_as_duplicate(self, spark):
        texts = ["x y z q r mid x y z q r tail", "unrelated words here"]
        got = self._run(spark, texts, window=5)
        assert got[0] == (12, 2, 10, "mid tail")
        assert got[1] == (3, 0, 0, "unrelated words here")

    def test_null_and_short_docs(self, spark):
        texts = [None, "tiny doc", "a much longer doc with enough tokens here"]
        got = self._run(spark, texts, window=5)
        assert got[0] == (None, None, None, None)
        assert got[1] == (2, 0, 0, "tiny doc")
        assert got[2][1:3] == (0, 0)

    def test_matches_python_reference(self, spark):
        # overlapping spans, triple repeats, punctuation-noise tokenization
        base = "the quick brown fox jumps over the lazy dog again and again"
        texts = [
            base + " first tail",
            "prefix words " + base,
            base + " " + base,  # doubled within one doc
            "Entirely distinct content, with punctuation! And CASE.",
            None,
        ]
        w = 6
        exp = py_dedup_substrings(texts, w)
        got = self._run(spark, texts, window=w)
        for i, e in exp.items():
            assert got[i] == e, (i, got[i], e)
        assert got[4] == (None, None, None, None)

    def test_partition_independence(self, spark):
        texts = [f"doc {i % 3} shared run of common tokens here tail {i}" for i in range(30)]
        df = docs_df(spark, texts)
        a = sorted(
            map(tuple, textops.dedup_substrings(df, window=6).collect())
        )
        b = sorted(
            map(
                tuple,
                textops.dedup_substrings(df.repartition(7), window=6).collect(),
            )
        )
        assert a == b

    def test_exchanges_carry_no_text(self, spark):
        import contextlib
        import io
        import re as _re

        df = textops.dedup_substrings(
            docs_df(spark, ["a b c d e f g", "a b c d e f g h"]), window=5
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        args = _re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        assert args, plan
        assert all("text#" not in a for a in args), plan

    def test_staging_collision_raises(self, spark):
        df = docs_df(spark, ["a b c"]).withColumn("_ss", F.lit(1))
        with pytest.raises(ValueError, match="_ss"):
            textops.dedup_substrings(df, window=3)
