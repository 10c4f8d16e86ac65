"""The one str-repr codec (lib/str-repr/encode.c, decode.c):
``templates.str_repr_encode``, its plan-time mirror ``str_repr_py`` and
its inverse ``str_repr_decode``, which every reader of str-repr text
shares: the kv-scanner, the ``$(list-*)`` parse and the snmptrapd
varbind decode. Every case reads its input from parquet."""

from __future__ import annotations

from pyspark.sql import functions as F

from axosyslog_spark.functions.template_compiler import _list_parse
from axosyslog_spark.functions.templates import (
    list_repr,
    str_repr_decode,
    str_repr_encode,
    str_repr_py,
)
from axosyslog_spark.operators.kvscan import kv_scan
from axosyslog_spark.operators.snmptrapd import snmptrapd_parser


def _by_id(df):
    return sorted(df.collect(), key=lambda r: r["id"])


def test_python_mirror_equals_column_encoder(hostile_strings):
    rows = _by_id(hostile_strings.select("id", "s", str_repr_encode(F.col("s")).alias("enc")))
    for r in rows:
        # NULL encodes as the empty element
        assert r["enc"] == str_repr_py(r["s"] or ""), repr(r["s"])


def _reads_back(hostile_strings, reader, wrap=lambda v: v):
    """``reader`` over the encoded value gives back the value (NULL
    encodes as the empty element '""')."""
    got = hostile_strings.select("id", "s", reader(str_repr_encode(F.col("s"))).alias("got"))
    for r in _by_id(got):
        assert r["got"] == wrap(r["s"] or ""), repr(r["s"])


def test_decode_inverts_encode(hostile_strings):
    _reads_back(hostile_strings, str_repr_decode)


def test_list_parse_inverts_list_repr(hostile_strings):
    _reads_back(
        hostile_strings, lambda _: _list_parse(list_repr(F.array("s"))), lambda s: [s]
    )


def test_kv_scan_reads_an_encoded_value(hostile_strings):
    _reads_back(
        hostile_strings,
        lambda enc: F.transform(
            kv_scan(F.concat(F.lit("k="), enc)), lambda p: F.concat(p["key"], F.lit("="), p["value"])
        ),
        lambda s: ["k=" + s],
    )


def test_escaped_backslash_before_a_letter_is_not_an_escape(spark, tmp_path):
    """'\\\\n' is a backslash and an n; '\\'...\\'' elements decode too."""
    path = str(tmp_path / "lists.parquet")
    spark.createDataFrame(
        [(0, '"a\\\\nb",\'q\\\\"\'', ["a\\nb", 'q\\"']),
         (1, '"\\b\\f\\r\\t",x', ["\b\f\r\t", "x"])],
        "id int, text string, want array<string>",
    ).write.parquet(path)
    df = spark.read.parquet(path)
    for r in _by_id(df.select("id", "want", _list_parse(F.col("text")).alias("got"))):
        assert r["got"] == r["want"]


def test_varbind_value_decodes_like_kv(spark, tmp_path):
    rec = (
        "2024-06-15 10:11:12 host1 [UDP: [127.0.0.1]:3456->[127.0.0.1]:162]:\n"
        'iso.3.6.1 = STRING: "a\\nb\\\\c"\tk2 = STRING: plain\tk3 = STRING: \'a b\''
    )
    path = str(tmp_path / "trap.parquet")
    spark.createDataFrame([(rec,)], "text string").write.parquet(path)
    [row] = snmptrapd_parser(spark.read.parquet(path)).collect()
    assert row["snmp"][".snmp.iso.3.6.1"] == "a\nb\\c"
    assert row["snmp"][".snmp.k2"] == "plain"
    assert row["snmp"][".snmp.k3"] == "a b"
