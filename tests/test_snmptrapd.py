"""snmptrapd-parser goldens ported from
modules/afsnmp/tests/test_snmptrapd_parser.c."""

from __future__ import annotations

import datetime as dt

from axosyslog_spark.operators.snmptrapd import snmptrapd_parser


def _parse(spark, text, **kw):
    df = spark.createDataFrame([(text,)], "text string")
    return snmptrapd_parser(df, **kw).first().asDict()


def test_general_v2_message_with_oids(spark):
    r = _parse(
        spark,
        "2017-05-10 12:46:14 web2-kukorica.syslog_ng.balabit "
        "[UDP: [127.0.0.1]:34257->[127.0.0.1]:162]:\n"
        "iso.3.6.1.2.1.1.3.0 = Timeticks: (875496867) 101 days, 7:56:08.67\t"
        "iso.3.6.1.6.3.1.1.4.1.0 = OID: iso.3.6.1.4.1.8072.2.3.0.1       "
        "iso.3.6.1.4.1.8072.2.3.2.1 = INTEGER: 60        \t "
        'iso.3.6.1.4.1.8072.2.1.3 = ""',
    )
    assert r["snmp_ok"]
    m = r["snmp"]
    assert m[".snmp.hostname"] == "web2-kukorica.syslog_ng.balabit"
    assert m[".snmp.transport_info"] == "UDP: [127.0.0.1]:34257->[127.0.0.1]:162"
    assert m[".snmp.iso.3.6.1.2.1.1.3.0"] == "(875496867) 101 days, 7:56:08.67"
    assert m[".snmp.iso.3.6.1.6.3.1.1.4.1.0"] == "iso.3.6.1.4.1.8072.2.3.0.1"
    assert m[".snmp.iso.3.6.1.4.1.8072.2.3.2.1"] == "60"
    assert m[".snmp.iso.3.6.1.4.1.8072.2.1.3"] == ""
    assert r["snmp_ts"] == dt.datetime(2017, 5, 10, 12, 46, 14)
    assert r["program"] == "snmptrapd"


def test_general_v1_message_with_oids(spark):
    r = _parse(
        spark,
        "2017-11-10 13:23:16 localhost "
        "[UDP: [127.0.0.1]:53831->[127.0.0.1]:162]: iso.3.6.1.4.1.8072.2.3.1\n"
        "\t Enterprise Specific Trap (.17) Uptime: 18:41:07.83\n"
        "iso.3.6.1.4.1.8072.2.1.1 = INTEGER: 123456",
    )
    assert r["snmp_ok"]
    m = r["snmp"]
    assert m[".snmp.enterprise_oid"] == "iso.3.6.1.4.1.8072.2.3.1"
    assert m[".snmp.type"] == "Enterprise Specific Trap"
    assert m[".snmp.subtype"] == ".17"
    assert m[".snmp.uptime"] == "18:41:07.83"
    assert m[".snmp.iso.3.6.1.4.1.8072.2.1.1"] == "123456"


def test_v2_with_symbolic_names_and_various_types(spark):
    r = _parse(
        spark,
        "2017-05-13 12:17:32 localhost [UDP: [127.0.0.1]:52407->[127.0.0.1]:162]:  \n "
        "mib-2.1.3.0 = Timeticks: (875496867) 101 days, 7:56:08.67 \t"
        "snmpModules.1.1.4.1.0 = OID: netSnmpExampleHeartbeatNotification "
        "netSnmpExampleHeartbeatRate = INTEGER: 60\t"
        "netSnmpExampleString = STRING: \"string innerkey='innervalue'\"\t"
        "org.2.2 = Gauge32: 22\t"
        "org.1.1 = Counter32: 11123123   "
        "org.5.3 = Hex-STRING: A0 BB CC DD EF \t"
        "org.8.8 = NULL\t"
        "dod.7 = IpAddress: 192.168.1.0\t  "
        'org.5.9 = STRING: "@"',
    )
    assert r["snmp_ok"]
    m = r["snmp"]
    assert m[".snmp.snmpModules.1.1.4.1.0"] == "netSnmpExampleHeartbeatNotification"
    assert m[".snmp.netSnmpExampleHeartbeatRate"] == "60"
    assert m[".snmp.netSnmpExampleString"] == "string innerkey='innervalue'"
    assert m[".snmp.org.2.2"] == "22"
    assert m[".snmp.org.1.1"] == "11123123"
    assert m[".snmp.org.5.3"] == "A0 BB CC DD EF"
    assert m[".snmp.org.8.8"] == "NULL"
    assert m[".snmp.dod.7"] == "192.168.1.0"
    assert m[".snmp.org.5.9"] == "@"


def test_v1_with_symbolic_names(spark):
    r = _parse(
        spark,
        "2017-05-13 12:18:30  localhost  "
        "[UDP: [127.0.0.1]:58143->[127.0.0.1]:162] : netSnmpExampleNotification \n"
        "\t Warm Start Trap (1) Uptime:  27 days, 2:39:02.34\n "
        "netSnmpExampleInteger = INTEGER: 123456 \t "
        "netSnmpExampleString = STRING: random string",
    )
    assert r["snmp_ok"]
    m = r["snmp"]
    assert m[".snmp.enterprise_oid"] == "netSnmpExampleNotification"
    assert m[".snmp.type"] == "Warm Start Trap"
    assert m[".snmp.subtype"] == "1"
    assert m[".snmp.uptime"] == "27 days, 2:39:02.34"
    assert m[".snmp.netSnmpExampleInteger"] == "123456"
    assert m[".snmp.netSnmpExampleString"] == "random string"


def test_v2_with_generated_message_escaped(spark):
    r = _parse(
        spark,
        "2017-05-17 13:26:04 localhost [UDP: [127.0.0.1]:34257->[127.0.0.1]:162]:\n"
        "iso.3.6.1.4.1.18372.3.2.1.1.1.6 = STRING: \"test 'escaped'\"",
        set_message=True,
    )
    assert r["snmp"][".snmp.iso.3.6.1.4.1.18372.3.2.1.1.1.6"] == "test 'escaped'"
    assert r["snmp_message"] == (
        "hostname='localhost', "
        "transport_info='UDP: [127.0.0.1]:34257->[127.0.0.1]:162', "
        "iso.3.6.1.4.1.18372.3.2.1.1.1.6='test \\'escaped\\''"
    )


def test_v2_without_prefix(spark):
    r = _parse(
        spark,
        "2017-05-17 13:26:04 localhost [UDP: [127.0.0.1]:34257->[127.0.0.1]:162]:\n"
        "iso.3.6.1.4.1.18372.3.2.1.1.1.6 = test",
        prefix="",
    )
    m = r["snmp"]
    assert m["hostname"] == "localhost"
    assert m["iso.3.6.1.4.1.18372.3.2.1.1.1.6"] == "test"


def test_v2_key_normalization(spark):
    r = _parse(
        spark,
        "2017-05-13 12:17:32 localhost [UDP: [127.0.0.1]:52407->[127.0.0.1]:162]:  \n "
        "mib-2.1.3.0 = Timeticks: (875496867) 101 days, 7:56:08.67 \t"
        'NET-SNMP-EXAMPLES-MIB:netSnmpExampleString = STRING: "random fact" \t'
        'NET-SNMP-EXAMPLES-MIB::netSnmpColons = STRING: "Colossus colons" \t'
        "NET-SNMP-EXAMPLES-MIB::::::::::::::::::::::::::Trail = "
        'STRING: "Gary Indiana" \t'
        ":NET-SNMP-EXAMPLES::::::::::::::::::::::::::::::MIB: = INTEGER: 1234 \t",
    )
    m = r["snmp"]
    assert m[".snmp.NET-SNMP-EXAMPLES-MIB_netSnmpExampleString"] == "random fact"
    assert m[".snmp.NET-SNMP-EXAMPLES-MIB_netSnmpColons"] == "Colossus colons"
    assert m[".snmp.NET-SNMP-EXAMPLES-MIB_Trail"] == "Gary Indiana"
    assert m[".snmp._NET-SNMP-EXAMPLES_MIB_"] == "1234"


def test_v1_without_varbindlist(spark):
    r = _parse(
        spark,
        "2017-05-10 13:23:16 localhost "
        "[UDP: [127.0.0.1]:53831->[127.0.0.1]:162]: iso.3.6.1.4.1.8072.2.3.1\n"
        "\t Enterprise Specific Trap (.17) Uptime: 18:41:07.83",
    )
    assert r["snmp_ok"]
    m = r["snmp"]
    assert m[".snmp.uptime"] == "18:41:07.83"
    assert m[".snmp.enterprise_oid"] == "iso.3.6.1.4.1.8072.2.3.1"
    # header fields only — no varbind keys
    assert sorted(m) == [
        ".snmp.enterprise_oid", ".snmp.hostname", ".snmp.subtype",
        ".snmp.transport_info", ".snmp.type", ".snmp.uptime",
    ]


def test_debug_message_dropped(spark):
    r = _parse(
        spark, "2017-05-19 10:00:00 NET-SNMP version 5.7.3 Stopped.\nStopping snmptrapd"
    )
    assert not r["snmp_ok"] and r["snmp"] is None and r["program"] is None


def test_v2_varbindlist_starting_with_tab_dropped(spark):
    # routes to the v1 parser (first '\n' followed by '\t') and fails
    r = _parse(
        spark,
        "2017-05-19 13:37:00 localhost [UDP: [127.0.0.1]:36324->[127.0.0.1]:162]:\n"
        "\tiso.3.6.1.2.1.1.3.0 = Timeticks: (875496867) 101 days, 7:56:08.67 \t"
        "iso.3.6.1.6.3.1.1.4.1.0 = OID: iso.3.6.1.4.1.8072.2.3.0.1 \t"
        "iso.3.6.1.4.1.8072.2.3.2.1 = INTEGER: 60",
    )
    assert not r["snmp_ok"]


def test_v2_message_with_garbage_stops_at_newline(spark):
    r = _parse(
        spark,
        "2017-05-10 12:46:14 localhost [UDP: [127.0.0.1]:34257->[127.0.0.1]:162]:\n"
        "iso.3.6.1.2.1.1.3.0 = Timeticks: (875496867) 101 days, 7:56:08.67\t"
        "iso.3.6.1.6.3.1.1.4.1.0 = OID: iso.3.6.1.4.1.8072.2.3.0.1\n"
        "garbage = stop here",
    )
    assert r["snmp_ok"]
    m = r["snmp"]
    assert m[".snmp.iso.3.6.1.2.1.1.3.0"] == "(875496867) 101 days, 7:56:08.67"
    assert ".snmp.garbage" not in m


def test_long_quoted_varbind_value(spark):
    v = "a" * 20000
    r = _parse(
        spark,
        "2017-05-10 12:46:14 host [UDP: [127.0.0.1]:34257->[127.0.0.1]:162]:\n"
        f'iso.3.6.1.4.1.8072.2.1.3 = STRING: "{v}"',
    )
    assert r["snmp_ok"] and r["snmp"][".snmp.iso.3.6.1.4.1.8072.2.1.3"] == v
