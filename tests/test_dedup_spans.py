"""Span-level exact-substring dedup: semantics pinned via DuckDB on a
hand-built corpus (the Spark twin is driver-gated by text_dedup_spans)."""

import duckdb

from gluon_ocr_spark.queries import sql_text_dedup_spans


def _run(docs):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    return {r[0]: (r[1], r[2]) for r in con.execute(sql_text_dedup_spans("duck")).fetchall()}


BOILER = "subscribe to our newsletter for the latest updates and offers today"  # 11 tokens


def test_shared_run_removed_from_every_doc():
    a = "unique alpha content one two three " + BOILER
    b = BOILER + " totally different tail about rivers and lakes"
    c = "standalone document with nothing shared at all here okay then"
    out = _run([(1, a), (2, b), (3, c)])
    for doc in (1, 2):
        cleaned, _ = out[doc]
        assert "subscribe" not in cleaned and "offers" not in cleaned
    assert out[1][0].startswith("unique alpha content")
    assert out[3] == (
        "standalone document with nothing shared at all here okay then",
        10,
    )


def test_runs_shorter_than_k_survive():
    # 5 shared tokens < K=8: no 8-gram seed covers them
    shared5 = "one two three four five"
    a = f"alpha beta gamma delta epsilon zeta eta {shared5}"
    b = f"{shared5} omega psi chi phi upsilon tau sigma"
    out = _run([(1, a), (2, b)])
    assert out[1][1] == len(a.split())  # nothing removed
    assert out[2][1] == len(b.split())


def test_whole_doc_duplicate_empties_both():
    t = "this entire document body is duplicated verbatim elsewhere okay"
    out = _run([(1, t), (2, t)])
    assert out[1] == ("", 0) and out[2] == ("", 0)


def test_within_doc_repetition_alone_not_removed():
    # the SAME 8-gram twice in ONE doc: df counts DISTINCT docs, so
    # self-repetition is the Gopher gate's job, not cross-doc dedup's
    run = "a b c d e f g h"
    t = f"{run} x y z {run}"
    out = _run([(1, t), (2, "unrelated content entirely different words")])
    assert out[1][1] == len(t.split())


class TestRemoveDupSpansOperator:
    """The production transform (operators.textstats.remove_dup_spans)
    — ADVICE r4: detection is case-insensitive (lowercased k-gram
    hash, same recall as the SQL template) but the rebuild keeps
    ORIGINAL case, and docs with no covered span are returned
    byte-identical, not rewritten."""

    def _run(self, spark, docs):
        from gluon_ocr_spark.operators.textstats import remove_dup_spans

        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        return {r["doc_id"]: r["text"] for r in remove_dup_spans(df).collect()}

    def test_case_preserved_and_untouched_docs_byte_identical(self, spark):
        boiler = "Subscribe To Our Newsletter For The Latest Updates And Offers"
        a = "Unique Alpha CONTENT one two three " + boiler
        b = boiler.lower() + " totally different tail about Rivers and Lakes"
        c = "Standalone Document with Nothing Shared At All Here OK"
        out = self._run(spark, [(1, a), (2, b), (3, c)])
        # detection matched across case; rebuild keeps each doc's case
        assert out[1] == "Unique Alpha CONTENT one two three"
        assert out[2] == "totally different tail about Rivers and Lakes"
        # untouched doc is byte-identical (NOT lowercased, NOT rebuilt)
        assert out[3] == c

    def test_whole_doc_duplicate_empties_both(self, spark):
        t = "This Entire Document Body Is Duplicated Verbatim Elsewhere OK"
        out = self._run(spark, [(1, t), (2, t.lower()), (3, "something else entirely unrelated")])
        assert out[1] == "" and out[2] == ""
        assert out[3] == "something else entirely unrelated"

    def test_counts_col_counts_kept_tokens(self, spark):
        from gluon_ocr_spark.operators.textstats import remove_dup_spans

        t = "This Entire Document Body Is Duplicated Verbatim Elsewhere OK"
        other = "Something Else Entirely Unrelated"
        df = spark.createDataFrame([(1, t), (2, t), (3, other)], "doc_id bigint, text string")
        out = {
            r["doc_id"]: (r["text"], r["n_kept"])
            for r in remove_dup_spans(df, counts_col="n_kept").collect()
        }
        # an emptied doc counts 0 kept tokens, not size(split('', ' ')) = 1
        assert out[1] == ("", 0) and out[2] == ("", 0)
        assert out[3] == (other, 4)


class TestDupRunLengths:
    """Binary-lifting duplicated-run detection: max_dup_run_pow2 is
    the largest power-of-two window length (8..128) shared verbatim
    with another doc."""

    def _run(self, docs):
        import duckdb

        from gluon_ocr_spark.queries import sql_text_dup_run_lengths

        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
        return {
            r[0]: (r[1], r[2])
            for r in con.execute(sql_text_dup_run_lengths("duck")).fetchall()
        }

    def test_pow2_bracket(self):
        shared20 = " ".join(f"s{i}" for i in range(20))
        a = "alpha beta gamma " + shared20 + " tail one two"
        b = shared20 + " completely different ending here now"
        out = self._run([(1, a), (2, b)])
        # a 20-token shared run contains 16-windows but no 32-window
        assert out[1][0] == 16 and out[2][0] == 16
        # duplicated 8-seeds: 20-token run has 13 8-gram starts
        assert out[1][1] == 13 and out[2][1] == 13

    def test_short_share_below_k_invisible(self):
        shared7 = "one two three four five six seven"
        a = f"prefix tokens here making length {shared7}"
        b = f"{shared7} other suffix tokens entirely different again"
        out = self._run([(1, a), (2, b)])
        assert out[1] == (0, 0) and out[2] == (0, 0)

    def test_identical_long_docs_reach_top_level(self):
        t = " ".join(f"w{i}" for i in range(130))
        out = self._run([(1, t), (2, t)])
        assert out[1][0] == 128 and out[2][0] == 128

    def test_within_doc_repeat_not_cross_doc(self):
        run = " ".join(f"r{i}" for i in range(10))
        t = f"{run} middle filler words {run}"
        out = self._run([(1, t), (2, "nothing in common at all here")])
        assert out[1] == (0, 0)
