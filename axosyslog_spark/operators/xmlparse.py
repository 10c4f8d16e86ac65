"""xml-parser(): XML → dotted name-value pairs.

Reference: modules/xml/xml.c + lib/scanner/xml-scanner/ — element text
and attributes become dotted keys (`.xml.root.child`, attributes as
`.xml.root._attr`); repeated elements concatenate/list.

This is one of the few operators where column algebra genuinely can't
express the semantics, so it runs as an Arrow-batched pandas UDF over
stdlib xml.etree (no external deps). Per input_hint discipline the UDF
is vectorized per batch — Python never runs row-at-a-time through the
serializer.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType, StringType

from axosyslog_spark.functions.templates import str_repr_py


def _flatten_xml(
    text: str,
    prefix: str = "xml",
    create_lists: bool = True,
    strip_whitespaces: bool = False,
    named_data: bool = False,
) -> dict[str, str]:
    """The one XML walker, modules/xml/xml.c semantics
    (test_xml_parser.c ported): an element's value is the
    concatenation of its text segments INCLUDING the tails
    between/after children (mixed content 'part1<x/>part2' ->
    'part1part2'); repeated sibling elements become an LM_VT_LIST —
    comma-joined with str-repr quoting — under create-lists(yes) (the
    default) and concatenate verbatim under create-lists(no);
    whitespace survives unless strip-whitespaces(yes). Namespace URIs
    are dropped from element names (``Event``, not ``{uri}Event``).

    ``named_data`` adds the windows-eventlog-xml-parser rule
    (modules/xml/windows-eventlog-xml-parser.c): ``<Data Name='k'>``
    directly under ``{prefix}.Event.EventData`` keys its value as
    ``...EventData.Data.k`` and drops its ``_Name`` attribute key."""
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(text)
    except ET.ParseError:
        return {}
    vals: dict[str, list[str]] = {}
    attrs: dict[str, str] = {}
    named_key = f"{prefix}.Event.EventData.Data"

    def seg(s: str | None) -> str:
        s = s or ""
        return s.strip() if strip_whitespaces else s

    def enter(el, path: str):
        key = f"{path}.{el.tag.rsplit('}', 1)[-1]}"
        named = named_data and key == named_key and "Name" in el.attrib
        return el, f"{key}.{el.attrib['Name']}" if named else key, named, False

    # depth-first walk on an explicit stack (a recursive one overflows
    # Python's stack on deep input): attributes on entry, the value
    # (text plus the children's tails) once the children are done
    stack = [enter(root, prefix)]
    while stack:
        el, key, named, done = stack.pop()
        if done:
            txt = seg(el.text) + "".join(seg(c.tail) for c in el)
            if txt:
                vals.setdefault(key, []).append(txt)
            continue
        for aname, aval in el.attrib.items():
            if not (named and aname == "Name"):
                attrs[f"{key}._{aname}"] = aval
        stack.append((el, key, named, True))
        stack.extend(enter(c, key) for c in reversed(el))
    out: dict[str, str] = {}
    for key, vlist in vals.items():
        if create_lists:
            out[key] = ",".join(str_repr_py(v) for v in vlist)
        else:
            out[key] = "".join(vlist)
    out.update(attrs)
    return out


def xml_flatten_col(
    src, prefix: str = "xml", strip_whitespaces: bool = False,
    named_data: bool = False,
):
    """Column form of ``_flatten_xml`` (also the filterx parse_xml()
    and parse_windows_eventlog_xml() builtins): map<string,string>,
    empty map on parse failure."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(MapType(StringType(), StringType()))
    def parse_batch(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: _flatten_xml(
            t or "", prefix, strip_whitespaces=strip_whitespaces, named_data=named_data
        ))

    return parse_batch(src)


def xml_parser(
    df: DataFrame, src_col: str = "text", out_col: str = "xml", prefix: str = "xml"
) -> DataFrame:
    """Adds a map<string,string> column of dotted XML fields (empty map
    on parse failure — pair with a filter for drop-invalid)."""
    return df.withColumn(out_col, xml_flatten_col(df[src_col], prefix))


def windows_eventlog_xml_parser(
    df: DataFrame, src_col: str = "text", out_col: str = "winlog",
    prefix: str = "winlog",
) -> DataFrame:
    """windows-eventlog-xml-parser(): the generic dotted flatten with
    strip-whitespaces(yes) and the EventData ``Data Name=`` rule
    (tests/test_windows_eventlog_xml_parser.c); map<string,string> out
    column."""
    return df.withColumn(out_col, xml_flatten_col(
        df[src_col], prefix, strip_whitespaces=True, named_data=True
    ))


def _xml_element(head, name, value, empty_end="/>"):
    """The one XML element renderer: ``<head>value</name>`` with the
    value's & < > escaped, ``<head`` + ``empty_end`` for an empty or
    NULL value (modules/xml/filterx-func-format-xml.c
    append_inner_dict_end_tag's empty-body branch)."""
    v = F.replace(value, F.lit("&"), F.lit("&amp;"))
    v = F.replace(v, F.lit("<"), F.lit("&lt;"))
    v = F.replace(v, F.lit(">"), F.lit("&gt;"))
    return F.when(
        F.coalesce(value, F.lit("")) == "", F.concat(F.lit("<"), head, F.lit(empty_end))
    ).otherwise(
        F.concat(F.lit("<"), head, F.lit(">"), v, F.lit("</"), name, F.lit(">"))
    )


def _format_entries(m, element):
    """A FLAT map<string,string> rendered entry by entry, in map order."""
    return F.array_join(F.transform(F.map_entries(m), element), "")


def format_xml_fx(m):
    """filterx format_xml(dict) for a FLAT map<string,string>: each
    entry renders as <key>value</key>, an empty value as the
    self-closing <key/>. The reference's nested-dict / @attribute
    forms have no meaning for a flat map column and are documented
    out of this subset."""
    return _format_entries(m, lambda e: _xml_element(e["key"], e["key"], e["value"]))


def format_windows_eventlog_xml_fx(m):
    """filterx format_windows_eventlog_xml(dict) for a FLAT
    map<string,string> — format_xml_fx plus the windows rule
    (filterx-func-format-windows-eventlog-xml.c:30-66): a key of the
    form 'EventData.<Name>' (any dotted prefix before 'EventData.')
    renders as <Data Name='<Name>'>value</Data>, the empty value as
    the self-closing <Data Name='<Name>' />. The reference's
    fully-nested dict walk applies the same leaf rule inside the
    EventData subtree."""
    def one(e):
        name = F.regexp_extract(e["key"], r"EventData\.([^.]+)$", 1)
        data = _xml_element(
            F.concat(F.lit("Data Name='"), name, F.lit("'")), F.lit("Data"),
            e["value"], " />",
        )
        return F.when(
            e["key"].rlike(r"(^|\.)EventData\.[^.]+$"), data
        ).otherwise(_xml_element(e["key"], e["key"], e["value"]))

    return _format_entries(m, one)
