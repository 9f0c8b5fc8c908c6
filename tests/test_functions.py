"""Unit tests for scalar functions (F1-F8) on adversarial inputs the
parquet corpus doesn't contain (emoji, CJK, surrogates, month edges)."""

from __future__ import annotations

import pyspark.sql.functions as F

from rt_bigdata_spark.functions.datetime_fns import (
    month_last_day,
    seconds_between,
    ten_minute_bucket,
    to_epoch_ms,
    to_ymd_hms,
    weekday_zh,
)
from rt_bigdata_spark.functions.text_fns import (
    keep_cjk_ascii,
    remove_emoji,
    tokenize,
    unpivot_counts,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first().v


def test_remove_emoji(spark):
    df = spark.createDataFrame([("hello 😀 world 🎉!",), ("纯中文标点。",)], ["t"])
    out = [r.v for r in df.select(remove_emoji(F.col("t")).alias("v")).collect()]
    assert out[0] == "hello  world !"
    assert out[1] == "纯中文标点。"


def test_keep_cjk_ascii(spark):
    df = spark.createDataFrame([("abc中文éü123",)], ["t"])
    out = df.select(keep_cjk_ascii(F.col("t")).alias("v")).first().v
    assert out == "abc中文123"  # é/ü outside CJK+ASCII ranges stripped


def test_tokenize_splits_punct_and_case(spark):
    df = spark.createDataFrame([("Hello, World--foo_bar 42x",)], ["t"])
    out = df.select(tokenize(F.col("t")).alias("v")).first().v
    assert out == ["hello", "world", "foo", "bar", "42x"]  # _ is not \p{L}\p{N} → splits


def test_unpivot_counts_skips_zeros(spark):
    df = spark.createDataFrame([(3, 0, 5)], ["a", "b", "c"])
    out = df.select(unpivot_counts([("a", "A"), ("b", "B"), ("c", "C")])).filter(F.col("ct") > 0)
    assert {(r.ct, r.source) for r in out.collect()} == {(3, "A"), (5, "C")}


def test_datetime_helpers(spark):
    ts = F.to_timestamp(F.lit("2024-02-07 13:47:21"))
    assert _one(spark, ten_minute_bucket(ts)) == "13:40:00-13:49:59"
    assert _one(spark, F.date_format(month_last_day(ts), "yyyy-MM-dd")) == "2024-02-29"  # leap year
    assert _one(spark, weekday_zh(ts)) == "星期三"
    assert _one(spark, to_ymd_hms(ts)) == "2024-02-07 13:47:21"
    assert _one(spark, to_epoch_ms(F.lit("1970-01-01 00:00:10"))) == 10_000
    b = F.to_timestamp(F.lit("2024-02-07 13:47:24"))
    assert _one(spark, seconds_between(ts, b)) == 3
    assert _one(spark, seconds_between(b, ts)) == 3  # abs


def test_bpe_token_count_vs_whitespace(spark):
    import pyspark.sql.functions as F

    from rt_bigdata_spark.operators.text_analysis import bpe_token_count, rolling_hash

    df = spark.createDataFrame(
        [(1, "hello world's 42 cats!!"), (2, "plain words only"), (3, "a")], ["id", "t"]
    )
    rows = {
        r.id: (r.bpe, r.rh)
        for r in df.select(
            "id", bpe_token_count(F.col("t")).alias("bpe"), rolling_hash(F.col("t")).alias("rh")
        ).collect()
    }
    # "hello|_world|'s|_42|_cats|!!" → 6 pretokens (contraction split out)
    assert rows[1][0] == 6
    assert rows[2][0] == 3
    assert rows[3][0] == 1
    # rolling hash: deterministic, bounded, distinct across texts
    assert rows[3][1] == ord("a")
    assert 0 <= rows[1][1] < 2147483647
    assert len({v[1] for v in rows.values()}) == 3


def test_bpe_enc_path_raises_on_oov_token(spark):
    """A caller-supplied ``enc`` must not drop tokens it has no entry
    for: every enc-path encoder fails naming the missing token, where an
    inner join used to under-count ``n_words`` and ids silently."""
    import pytest

    from rt_bigdata_spark.operators.packing import pack_token_sequences
    from rt_bigdata_spark.operators.text_analysis import (
        bpe_encode_counts,
        bpe_encode_tokens,
        bpe_trained_encoder,
        tokenizer_fertility,
    )

    train = spark.createDataFrame(
        [(1, "aaa aab abab", "s0"), (2, "banana bab", "s1")], "doc_id long, text string, source string"
    )
    merges, enc = bpe_trained_encoder(train, n_merges=4)
    assert [r.n_words for r in bpe_encode_counts(train, merges, enc=enc).orderBy("doc_id").collect()] == [3, 2]
    oov = spark.createDataFrame(
        [(1, "aaa zebra", "s0"), (2, "abab", "s1")], "doc_id long, text string, source string"
    )
    for encode in (bpe_encode_counts, bpe_encode_tokens, tokenizer_fertility, pack_token_sequences):
        with pytest.raises(Exception, match="no entry for token: zebra"):
            encode(oov, merges, enc=enc).collect()


def test_salted_join_matches_plain_join(spark):
    import pyspark.sql.functions as F

    from rt_bigdata_spark.operators.scale import salted_join

    # skewed left: key 1 dominates
    left = spark.createDataFrame([(1, i) for i in range(500)] + [(2, 0), (3, 1)], ["k", "v"])
    right = spark.createDataFrame([(1, "hot"), (2, "warm"), (4, "unmatched")], ["k", "name"])
    plain = left.join(right, "k").groupBy("k", "name").agg(F.count(F.lit(1)).alias("ct"))
    salted = salted_join(left, right, "k").groupBy("k", "name").agg(F.count(F.lit(1)).alias("ct"))
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_compact_small_files_roundtrip(spark, tmp_path):
    from rt_bigdata_spark.operators.scale import compact_small_files

    df = spark.range(0, 1000).repartition(16)
    out = str(tmp_path / "compacted")
    compact_small_files(df, target_files=2, path=out)
    import glob

    files = glob.glob(out + "/part-*.parquet")
    assert len(files) == 2
    assert spark.read.parquet(out).count() == 1000


def test_tokenize_mixed_cjk_bigrams_cross_engine(spark):
    """U1 IK-segmenter stand-in (SURVEY §7.3): latin runs → words, CJK
    runs → Lucene-CJK overlapping bigrams, single CJK chars →
    unigrams. Asserted against the reference's own demo title
    (KeywordUtil.scala:46) and pinned cross-engine with a DuckDB twin
    so the convention can't drift engine-side."""
    import duckdb
    import pyspark.sql.functions as F

    from rt_bigdata_spark.functions.text_fns import tokenize_mixed

    rows = [
        (1, "Apple iPhoneXSMax (A2104) 256GB 深空灰色 移动联通电信4G手机 双卡双待"),
        (2, "hello, World!"),
        (3, "中"),
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "id: long, text: string")
    got = {
        r.id: r.t
        for r in df.select(
            "id", tokenize_mixed(F.coalesce(F.col("text"), F.lit(""))).alias("t")
        ).collect()
    }
    assert got[1] == [
        "apple", "iphonexsmax", "a2104", "256gb",
        "深空", "空灰", "灰色",
        "移动", "动联", "联通", "通电", "电信", "4g", "手机",
        "双卡", "卡双", "双待",
    ]
    assert got[2] == ["hello", "world"]
    assert got[3] == ["中"]  # single-char CJK run → unigram
    assert got[4] == [] == got[5]  # NULL ≡ '' ≡ no tokens

    con = duckdb.connect()
    con.register("t", __import__("pandas").DataFrame(rows, columns=["id", "text"]))
    oracle = {
        int(i): list(toks)
        for i, toks in con.execute(
            """
            SELECT id, flatten(list_transform(
              regexp_extract_all(lower(COALESCE(text, '')), '[a-z0-9]+|[一-龥]+'),
              r -> CASE WHEN regexp_matches(r, '^[一-龥]') AND length(r) >= 2
                   THEN [substr(r, i, 2) FOR i IN generate_series(1, length(r) - 1)]
                   ELSE [r] END))
            FROM t ORDER BY id
            """
        ).fetchall()
    }
    assert oracle == got
