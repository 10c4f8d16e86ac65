"""SCL application adapters (scl/ block library) + app-parser().

Reference: scl/apache/apache.conf LogFormat examples (the comment
block's four sample lines are the goldens), scl/sudo/sudo.conf,
scl/iptables/iptables.conf, scl/cee/adapter.conf, scl/cisco/plugin.conf.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from axosyslog_spark.operators import scl

VHOST_COMBINED = (
    'virtualhost:443 127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] '
    '"GET /apache_pb.gif HTTP/1.0" 200 2326 '
    '"http://www.example.com/start.html" "Mozilla/4.08 [en] (Win98; I ;Nav)"'
)
COMMON = (
    '127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] '
    '"GET /apache_pb.gif HTTP/1.0" 200 2326'
)


def test_apache_accesslog_parser_formats(spark):
    # row 3: 20,000-character quoted fields, matched without a stack
    # frame per character
    long_line = (
        '127.0.0.1 - - [10/Oct/2000:13:55:36 -0700] "GET /' + "p" * 20000
        + ' HTTP/1.1" 200 5 "' + "r" * 20000 + '" "' + "a\\\"" * 5000 + '"'
    )
    df = spark.createDataFrame(
        [(0, VHOST_COMBINED), (1, COMMON), (2, "not an access log"), (3, long_line)],
        "id int, text string",
    )
    out = {
        r["id"]: r.asDict()
        for r in scl.apache_accesslog_parser(df).collect()
    }
    a = out[0]
    assert a["apache_ok"] and a["apache_vhost"] == "virtualhost:443"
    assert a["apache_clientip"] == "127.0.0.1"
    assert a["apache_auth"] == "frank"
    assert a["apache_timestamp"] == dt.datetime(2000, 10, 10, 20, 55, 36)
    assert a["apache_verb"] == "GET"
    assert a["apache_request"] == "/apache_pb.gif"
    assert a["apache_httpversion"] == "1.0"  # HTTP/ stripped (subst)
    assert a["apache_response"] == 200 and a["apache_bytes"] == 2326
    assert a["apache_referrer"] == "http://www.example.com/start.html"
    assert a["apache_agent"].startswith("Mozilla/4.08")
    c = out[1]
    assert c["apache_ok"] and c["apache_vhost"] is None
    assert c["apache_referrer"] is None and c["apache_agent"] is None
    assert not out[2]["apache_ok"]
    big = out[3]
    assert big["apache_ok"] and big["apache_request"] == "/" + "p" * 20000
    assert big["apache_referrer"] == "r" * 20000
    assert big["apache_agent"] == 'a"' * 5000


def test_apache_nonhttp_rawrequest_drops_triplet(spark):
    # scl/apache: rawrequest that is not VERB SP URI SP HTTPVERSION
    # leaves verb/request/httpversion unset (drop-invalid)
    line = (
        '106.75.178.169 - - [22/Nov/2022:00:03:53 +0100] '
        '"{\\"id\\": 4, \\"method\\": \\"mining.submit\\"}" 400 226'
    )
    df = spark.createDataFrame([(line,)], "text string")
    r = scl.apache_accesslog_parser(df).first()
    assert r["apache_ok"]
    assert r["apache_response"] == 400
    assert r["apache_verb"] is None and r["apache_httpversion"] is None


def test_sudo_parser(spark):
    df = spark.createDataFrame(
        [
            (0, "alice : TTY=pts/0 ; PWD=/home/alice ; USER=root ; COMMAND=/bin/ls -l"),
            (1, "bob : pam_unix(sudo:session): session opened"),
        ],
        "id int, text string",
    )
    rows = scl.sudo_parser(df).collect()
    assert len(rows) == 1  # pam noise (no COMMAND) dropped
    r = rows[0]
    assert r["sudo_SUBJECT"] == "alice"
    assert r["sudo_TTY"] == "pts/0"
    assert r["sudo_USER"] == "root"
    assert r["sudo_COMMAND"] == "/bin/ls -l"


def test_iptables_parser_and_filter(spark):
    line = "IN=eth0 OUT= SRC=10.0.0.5 DST=10.0.0.9 PROTO=TCP SPT=4432 DPT=443"
    df = spark.createDataFrame([(line,)], "text string")
    kv = scl.iptables_parser(df).first()["iptables_kv"]
    assert kv["SRC"] == "10.0.0.5" and kv["PROTO"] == "TCP"
    assert kv["OUT"] == ""
    flt = spark.createDataFrame(
        [(0, 0, "kernel", line), (1, 4, "sshd", "no")],
        "id int, facility int, program string, text string",
    )
    kept = flt.filter(
        scl.iptables_app_filter(F.col("facility"), F.col("program"), F.col("text"))
    ).collect()
    assert [r["id"] for r in kept] == [0]


def test_cee_parser(spark):
    df = spark.createDataFrame(
        [(0, '@cee:{"event": "login", "ok": true}'), (1, "plain")],
        "id int, text string",
    )
    out = {r["id"]: r["cee"] for r in scl.cee_parser(df).collect()}
    assert out[0][".cee.event"] == "login"
    assert out[0][".cee.ok"] == "true"
    assert out[1] in (None, {})


def test_cee_parser_is_the_json_parser(spark):
    # json-parser rules through marker('@cee:') prefix('.cee.'): string
    # arrays become comma lists, nesting flattens to the depth bound 8
    doc = '@cee:{"tags":["x","y"],"a":{"b":{"c":{"d":{"e":1}}}}}'
    df = spark.createDataFrame([(0, doc)], "id int, text string")
    [row] = scl.cee_parser(df).collect()
    assert row["cee"] == {".cee.tags": "x,y", ".cee.a.b.c.d.e": "1"}
    assert row["cee_ok"]


def test_cisco_parser(spark):
    df = spark.createDataFrame(
        [
            (0, "*Mar  1 18:46:11: %SYS-5-CONFIG_I: Configured from console"),
            (1, "2023-03-01T18:46:11 %LINK-3-UPDOWN: Interface up"),
            (2, "%ASA-SESSION-5-106100: access-list inside permitted"),
            (3, "just noise"),
        ],
        "id int, text string",
    )
    out = {r["id"]: r.asDict() for r in scl.cisco_parser(df).collect()}
    assert out[0]["cisco_facility"] == "SYS" and out[0]["cisco_severity"] == 5
    assert out[0]["cisco_mnemonic"] == "CONFIG_I"
    assert out[0]["cisco_message"] == "Configured from console"
    assert out[0]["cisco_ts"] is not None and out[0]["cisco_ts"].month == 3
    assert out[1]["cisco_ts"] == dt.datetime(2023, 3, 1, 18, 46, 11)
    # 4-part %FAC-SUB-SEV-MNEMONIC: facility keeps the subfacility
    # joined (plugin.conf set("${facility}-$4") rewrite)
    assert out[2]["cisco_facility"] == "ASA-SESSION"
    assert out[2]["cisco_severity"] == 5
    assert out[2]["cisco_mnemonic"] == "106100"
    assert not out[3]["cisco_ok"] and out[3]["cisco_ts"] is None


def test_app_parser_first_match_wins(spark):
    df = spark.createDataFrame(
        [
            (0, 0, "kernel", "IN=eth0 OUT= SRC=1.2.3.4 DST=4.3.2.1 PROTO=UDP"),
            (1, 10, "sudo", "root : TTY=tty1 ; PWD=/ ; USER=root ; COMMAND=/sbin/reboot"),
            (2, 16, "app", "hello world"),
        ],
        "id int, facility int, program string, text string",
    )
    apps = [
        (
            "iptables",
            scl.iptables_app_filter(
                F.col("facility"), F.col("program"), F.col("text")
            ),
            scl.iptables_parser,
        ),
        ("sudo", F.col("program") == "sudo", scl.sudo_parser),
    ]
    out = {r["id"]: r.asDict() for r in scl.app_parser(df, apps).collect()}
    assert out[0]["app"] == "iptables"
    assert out[0]["iptables_kv"]["PROTO"] == "UDP"
    assert out[1]["app"] == "sudo" and out[1]["sudo_COMMAND"] == "/sbin/reboot"
    assert out[2]["app"] is None and out[2]["iptables_kv"] is None


def test_fortigate_parser(spark):
    line = (
        "date=2024-05-01 time=10:20:30 devname=FGT60E devid=FG60E123 "
        "logid=0000000013 type=traffic srcip=10.0.0.5 dstip=8.8.8.8 action=accept"
    )
    df = spark.createDataFrame([(0, line), (1, "type=traffic no devname")],
                               "id int, text string")
    rows = scl.fortigate_parser(df).collect()
    assert len(rows) == 1  # devname filter
    r = rows[0]
    assert r["host"] == "FGT60E"
    assert r["fortigate_kv"]["srcip"] == "10.0.0.5"
    assert r["fortigate_ts"] == dt.datetime(2024, 5, 1, 10, 20, 30)


def test_panos_parser_traffic_and_system(spark):
    traffic = (
        "1,2024/05/01 10:00:00,0123456789,TRAFFIC,end,1,2024/05/01 10:00:01,"
        "10.0.0.5,8.8.8.8,0.0.0.0,0.0.0.0,allow-dns,bob,,dns,vsys1,trust,untrust,"
        "ethernet1/1,ethernet1/2,fwd,1,12345,1,53211,53,0,0,0x0,udp,allow,"
        "120,60,60,2,2024/05/01 09:59:59,1,any,0,987654,0x0,10.0.0.0-10.255.255.255,"
        "US,0,1,1,aged-out,0,0,0,0,,PA-VM,from-policy"
    )
    system = (
        "1,2024/05/01 10:00:00,0123456789,SYSTEM,general,1,2024/05/01 10:00:01,"
        "vsys1,general,,0,0,general,informational,desc,112,0x0,0,0,0,0,,PA-VM"
    )
    df = spark.createDataFrame(
        [(0, traffic), (1, system), (2, "garbage,line")],
        "id int, text string",
    )
    out = {r["id"]: r.asDict() for r in scl.panos_parser(df).collect()}
    t = out[0]
    assert t["panos_ok"] and t["panos_type"] == "TRAFFIC"
    assert t["panos_fields"]["src"] == "10.0.0.5"
    assert t["panos_fields"]["dport"] == "53"
    assert t["panos_fields"]["action"] == "allow"
    assert t["panos_fields"]["device_name"] == "PA-VM"
    assert t["panos_time_generated"] == dt.datetime(2024, 5, 1, 10, 0, 1)
    s = out[1]
    assert s["panos_ok"] and s["panos_fields"]["severity"] == "informational"
    assert s["panos_fields"]["device_name"] == "PA-VM"
    assert not out[2]["panos_ok"] and out[2]["panos_fields"] is None


def test_ewmm_parser(spark):
    df = spark.createDataFrame(
        [
            (0, "@syslog-ng", '{"MESSAGE": "hello", "HOST": "h1", "._TAGS": "a,b"}'),
            (1, "other", '{"x": 1}'),
        ],
        "id int, program string, text string",
    )
    rows = scl.ewmm_parser(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["tags"] == ["a", "b"]
    assert r["ewmm"]["MESSAGE"] == "hello" and r["ewmm"]["HOST"] == "h1"
    assert "._TAGS" not in r["ewmm"]


def test_iptables_duplicate_keys_no_abort(spark):
    """ADVICE r3 (high): a netfilter ICMP error line embeds the
    offending packet's header in brackets, repeating SRC/DST/PROTO/
    LEN. map_from_entries would abort the whole job under Spark's
    default mapKeyDedupPolicy=EXCEPTION; the reference kv-parser
    overwrites — last occurrence (the inner header) wins."""
    line = (
        "IN=eth0 OUT= MAC=00:11:22:33:44:55:66:77:88:99:aa:bb:cc:dd "
        "SRC=10.0.0.9 DST=10.0.0.5 LEN=112 TOS=0x00 PREC=0xC0 TTL=64 "
        "ID=54321 PROTO=ICMP TYPE=3 CODE=3 "
        "[SRC=10.0.0.5 DST=8.8.8.8 LEN=84 TTL=63 ID=777 PROTO=UDP "
        "SPT=53124 DPT=53 LEN=64 ]"
    )
    df = spark.createDataFrame([(line,)], "text string")
    kv = scl.iptables_parser(df).first()["iptables_kv"]  # must not raise
    assert kv["SRC"] == "10.0.0.5" and kv["DST"] == "8.8.8.8"
    assert kv["PROTO"] == "UDP" and kv["TYPE"] == "3"


def test_apache_malformed_date_yields_null(spark):
    """ADVICE r3 (medium): the shape regex accepts any [...] content;
    a malformed date must yield NULL (drop-invalid semantics), not
    abort under Spark 4's ANSI-on to_timestamp."""
    df = spark.createDataFrame(
        [('1.2.3.4 - - [not/a/date] "GET / HTTP/1.0" 200 5',)],
        "text string",
    )
    r = scl.apache_accesslog_parser(df).first()
    assert r["apache_ok"] and r["apache_timestamp"] is None
    assert r["apache_response"] == 200


def test_credit_card_mask(spark):
    df = spark.createDataFrame(
        [
            (0, "paid with 4111111111111111 ok"),            # visa 16
            (1, "visa13 4222222222222 done"),                # visa 13
            (2, "mc 5500005555555559 and amex 378282246310005"),
            (3, "jcb 3530111333300000 disc 6011000990139424"),
            (4, "diners 30569309025904 end"),
            (5, "no cards 12345 here"),
        ],
        "id int, text string",
    )
    out = {
        r["id"]: r["m"]
        for r in df.select(
            "id", scl.credit_card_mask(F.col("text")).alias("m")
        ).collect()
    }
    assert out[0] == "paid with 411111******1111 ok"
    assert out[1] == "visa13 422222******2222 done"
    assert out[2] == "mc 550000******5559 and amex 378282******0005"
    assert out[3] == "jcb 353011******0000 disc 601100******9424"
    assert out[4] == "diners 305693******5904 end"
    assert out[5] == "no cards 12345 here"


def test_checkpoint_parser_syslog_formats(spark):
    iso = (
        '<134>1 2019-05-13T14:45:00Z gw-name checkpoint 12345 - '
        '[action:"Accept"; conn_direction:"Incoming"; ifname:"eth0"]'
    )
    twopart = (
        "<134>1 2019-05-13 14:45:27 gw2 fw 999 x "
        '[action:"Drop"; src:"10.0.0.9"]'
    )
    df = spark.createDataFrame([(0, iso), (1, twopart)], "id int, text string")
    out = {r["id"]: r.asDict() for r in scl.checkpoint_parser(df).collect()}
    a = out[0]
    assert a[".checkpoint.ok"]
    assert a["host"] == "gw-name" and a["program"] == "checkpoint"
    assert a["pid"] == "12345" and a["msgid"] is None  # null('-')
    assert a[".checkpoint.ts"].year == 2019
    assert a[".checkpoint.msg"].startswith("[action:")
    # the csv-parser's column named MSG REBINDS $MSG to the greedy
    # tail, so the kv-parser scans only the bracketed section — the
    # first bracket key parses cleanly (an earlier round misread this
    # as a raw-line scan; the functional goldens corrected it)
    assert a[".checkpoint.kv"][".checkpoint.action"] == "Accept"
    assert a[".checkpoint.kv"][".checkpoint.conn_direction"] == "Incoming"
    assert a[".checkpoint.kv"][".checkpoint.ifname"] == "eth0"
    b = out[1]
    assert b[".checkpoint.ok"] and b["host"] == "gw2"
    assert b["msgid"] == "x"
    assert b[".checkpoint.ts"].second == 27
    assert b[".checkpoint.kv"][".checkpoint.src"] == "10.0.0.9"


def test_checkpoint_app_filter(spark):
    df = spark.createDataFrame(
        [
            (0, "<134>1 2019-05-13T14:45:00Z gw CheckPoint 1 - x"),
            (1, "time=1557767758|hostname=r80test|product=Firewall|action=Accept"),
            (2, "plain noise"),
        ],
        "id int, text string",
    )
    kept = df.filter(scl.checkpoint_app_filter(F.col("text"))).collect()
    assert sorted(r["id"] for r in kept) == [0, 1]


def test_junos_app_filter(spark):
    df = spark.createDataFrame(
        [
            (0, {".SDATA.junos@2636.1.1.1.2.129.reason": "session closed"}),
            (1, {".SDATA.junos@2636.1.1.1.2.129.reason": ""}),
            (2, {"other": "x"}),
        ],
        "id int, sdata map<string,string>",
    )
    kept = df.filter(scl.junos_app_filter(F.col("sdata"))).collect()
    assert [r["id"] for r in kept] == [0]


def test_pihole_ftl_parser(spark):
    """pihole_ftl() goldens (scl/pihole/pihole.conf): date-parser on
    $1, PROGRAM='Pi-hole', set-severity($2) only when present AND
    resolvable (FATAL is not a syslog-names alias -> unchanged)."""
    df = spark.createDataFrame(
        [
            (0, "[2024-06-01 10:00:00.123 12345M] ERR: DNS failure"),
            (1, "[2024-06-01 10:00:01.500 12345M] FATAL: no database"),
            (2, "[2024-06-01 10:00:02.000 12345M] plain info line"),
            (3, "not an FTL line"),
        ],
        "id int, text string",
    )
    out = {r["id"]: r.asDict() for r in scl.pihole_ftl_parser(df).collect()}
    assert out[0]["pihole_ok"] and out[0]["severity"] == 3
    assert out[0]["message"] == "DNS failure"
    assert out[0]["msg_ts"] == dt.datetime(2024, 6, 1, 10, 0, 0, 123000)
    assert out[0]["program"] == "Pi-hole"
    assert out[0]["pri"] == 8 + 3
    # FATAL: not in sl_severities -> severity stays at the default 5
    assert out[1]["pihole_ok"] and out[1]["severity"] == 5
    assert out[1]["message"] == "no database"
    # no level word: severity unchanged, message = remainder
    assert out[2]["severity"] == 5 and out[2]["message"] == "plain info line"
    # non-matching line: ok=false, text passes through as MESSAGE
    assert not out[3]["pihole_ok"] and out[3]["message"] == "not an FTL line"


def test_collectd_putval(spark):
    """collectd() PUTVAL template (scl/collectd/plugin.conf): optional
    -instance segments dropped when empty, interval gating, ts:values
    tail."""
    df = spark.createDataFrame(
        [("web1", "cpu", "0", "percent", "user", 1716200000, "42.5")],
        "host string, plugin string, pinst string, type string,"
        " tinst string, ut long, v string",
    )
    full = scl.collectd_putval(
        F.col("host"), F.col("plugin"), F.col("type"), F.col("ut"),
        values=F.col("v"), plugin_instance=F.col("pinst"),
        type_instance=F.col("tinst"),
    )
    bare = scl.collectd_putval(
        F.col("host"), F.lit("load"), F.lit("load"), F.col("ut"),
        plugin_instance=F.lit(""), interval=None,
    )
    r = df.select(full.alias("a"), bare.alias("b")).first()
    assert r["a"] == "PUTVAL web1/cpu-0/percent-user interval=60 1716200000:42.5"
    assert r["b"] == "PUTVAL web1/load/load 1716200000:U"


def test_splunk_hec_event(spark):
    """splunk_hec_event() HEC body (scl/splunk/splunk.conf):
    omit-empty-values, S_UNIXTIME.S_MSEC time, nested flat fields."""
    df = spark.createDataFrame(
        [(dt.datetime(2024, 5, 1, 10, 0, 1, 250000), "h1", "msg body")],
        "ts timestamp, host string, msg string",
    )
    j = scl.splunk_hec_event(
        F.col("msg"), F.col("host"), F.col("ts"),
        index=F.lit("main"), source=F.lit(""),
        fields=F.create_map(F.lit("env"), F.lit("prod")),
    )
    out = df.select(j.alias("j")).first()["j"]
    import json

    d = json.loads(out)
    assert d["index"] == "main"
    assert "source" not in d           # empty -> omitted
    assert "sourcetype" not in d       # never passed -> omitted
    assert d["host"] == "h1"
    assert d["time"] == "1714557601.250"
    assert d["event"] == "msg body"
    assert d["fields"] == {"env": "prod"}


def test_mbox_source(spark):
    """mbox framing (scl/mbox/mbox.conf): '^From ' starts a new mail,
    everything else continues it."""
    lines = [
        (1, "From alice@example.com Sat Jun  1 10:00:00 2024"),
        (2, "Subject: hi"),
        (3, ""),
        (4, "body line"),
        (5, "From bob@example.com Sat Jun  1 11:00:00 2024"),
        (6, "Subject: re: hi"),
    ]
    df = spark.createDataFrame(
        [("f", i, t) for i, t in lines], "conv_id string, turn_idx int, text string"
    )
    out = sorted(
        scl.mbox_source(df).collect(), key=lambda r: r["turn_idx"]
    )
    assert len(out) == 2
    assert out[0]["n_lines"] == 4
    assert out[0]["assembled"].startswith("From alice@")
    assert "body line" in out[0]["assembled"]
    assert out[1]["n_lines"] == 2
    assert out[1]["assembled"].startswith("From bob@")


def test_default_network_drivers_composition(spark):
    """The four-way routing of scl/default-network-drivers: raw-topic
    app (checkpoint), ewmm, syslog-topic app (sudo), and the plain
    syslog fallthroughs (5424 + BSD + free)."""
    rows = [
        # checkpoint raw (topic syslog-raw)
        (0, '<134>1 2024-06-15T10:11:05Z gw1 CheckPoint 77 - '
            '[x:"0"; action:"accept"]'),
        # ewmm: 5424 header with PROGRAM @syslog-ng + JSON payload
        (1, '<13>1 2024-06-15T10:11:06Z h2 @syslog-ng 9 - - '
            '{"MESSAGE":"hello","num":"7","._TAGS":".source.s_net"}'),
        # sudo via app-parser(topic(syslog))
        (2, '<85>1 2024-06-15T10:11:07Z h3 sudo - - - alice : TTY=pts/0 ; '
            'PWD=/home ; USER=root ; COMMAND=/bin/ls'),
        # plain RFC5424
        (3, "<34>1 2024-06-15T10:11:08Z h4 app 1 - - plain structured"),
        # BSD / RFC3164
        (4, "<30>Jun 15 10:11:09 h5 cron[11]: job done"),
        # free text
        (5, "not syslog at all"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = {r["id"]: r.asDict() for r in scl.default_network_drivers(df).collect()}
    assert len(out) == 6
    assert out[0]["path"] == "raw-app" and out[0]["app"] == "checkpoint"
    assert out[0][".checkpoint.kv"][".checkpoint.action"] == "accept"
    assert out[1]["path"] == "ewmm"
    assert out[1]["ewmm"]["MESSAGE"] == "hello"
    assert out[1]["tags"] == [".source.s_net"]
    assert out[2]["path"] == "app" and out[2]["app"] == "sudo"
    assert out[2]["sudo_COMMAND"] == "/bin/ls"
    assert out[2]["sudo_SUBJECT"] == "alice"
    assert out[3]["path"] == "syslog" and out[3]["host"] == "h4"
    assert out[3]["body"] == "plain structured"
    assert out[4]["path"] == "syslog" and out[4]["host"] == "h5"
    assert out[4]["appname"] == "cron" and out[4]["body"] == "job done"
    assert out[5]["path"] == "syslog" and out[5]["body"] == "not syslog at all"


def test_solaris_msgid(spark):
    # sample from scl/solaris/plugin.conf
    rows = [
        (0, "[ID 800047 auth.info] Accepted publickey for acsss "
            "from 192.168.1.99 port 40386 ssh2"),
        (1, "no msgid here"),
    ]
    df = spark.createDataFrame(rows, "id int, message string")
    out = {r["id"]: r for r in scl.solaris_msgid_parser(df).collect()}
    assert out[0]["solaris_msgid"] == "800047"
    assert out[0]["message"].startswith("Accepted publickey for acsss")
    assert out[1]["solaris_msgid"] is None
    assert out[1]["message"] == "no msgid here"


def test_arr_parser(spark):
    rows = [
        (0, "2024-03-01 12:34:56.7|Info|DownloadService|Report sent"),
        (1, "2024-03-01 12:34:56.7|Fatal|Main|boom"),   # Fatal unresolvable
        (2, "stray line"),
        # a 20,000-character message spanning lines; it ends at a CR
        (3, "2024-03-01 12:34:56.7|Info|Main|" + "m\n" * 10000 + "\rtail"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = {r["id"]: r for r in scl.arr_parser(df, "Radarr").collect()}
    assert out[0]["arr_ok"] and out[0]["program"] == "Radarr"
    assert out[0]["severity"] == 6 and out[0]["arr_module"] == "DownloadService"
    assert out[0]["message"] == "Report sent"
    assert out[0]["msg_ts"] == dt.datetime(2024, 3, 1, 12, 34, 56, 700000)
    # set-severity only knows syslog names: Fatal keeps the default
    assert out[1]["severity"] == 5
    assert not out[2]["arr_ok"] and out[2]["message"] == "stray line"
    assert out[3]["arr_ok"] and out[3]["message"] == "m\n" * 10000


def test_jellyfin_parser(spark):
    rows = [
        (0, '[2024-05-01 10:00:00.123 +02:00] [INF] [22] Core started'),
        (1, '[2024-05-01 10:00:01.000 +00:00] [ERR] [3] It broke'),
        (2, "partial garbage"),
        (3, "[2024-05-01 10:00:02.000 +00:00] [ERR] [3] " + "j" * 20000),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = {r["id"]: r for r in scl.jellyfin_parser(df).collect()}
    assert out[0]["jellyfin_ok"] and out[0]["program"] == "Jellyfin"
    # INF is not a syslog-names alias: severity keeps the default
    assert out[0]["severity"] == 5
    assert out[0]["message"] == "Core started"
    # zone designator honored: 10:00 +02:00 == 08:00 UTC
    assert out[0]["msg_ts"] == dt.datetime(2024, 5, 1, 8, 0, 0, 123000)
    # ERR resolves via syslog-names
    assert out[1]["severity"] == 3
    assert not out[2]["jellyfin_ok"]
    assert out[3]["jellyfin_ok"] and out[3]["message"] == "j" * 20000


def test_qbittorrent_parser(spark):
    rows = [
        (0, "(N) 2024-05-01T10:00:00 - Peer banned"),
        (1, "(C) 2024-05-01T10:00:01 - Disk failure"),
        (2, "(X) 2024-05-01T10:00:02 - Unknown level"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = {r["id"]: r for r in scl.qbittorrent_parser(df).collect()}
    assert out[0]["severity"] == 5 and out[0]["message"] == "Peer banned"
    assert out[0]["msg_ts"] == dt.datetime(2024, 5, 1, 10, 0, 0)
    assert out[1]["severity"] == 2
    assert out[2]["severity"] == 5  # ladder falls through, keeps default
    assert out[0]["program"] == "qBittorrent"


def test_nodejs_winston_parser(spark):
    rows = [
        (0, '["log",{"level":"info","message":"hello world",'
            '"meta":{"module":"db","retry":"2"}}]'),
        (1, "not json"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = {r["id"]: r for r in scl.nodejs_winston_parser(df).collect()}
    assert out[0]["nodejs_ok"]
    assert out[0]["message"] == "hello world"
    m = out[0]["nodejs_winston"]
    assert m["nodejs_winston_level"] == "info"
    assert m["nodejs_winston_meta.module"] == "db"
    assert "nodejs_winston_message" not in m
    assert not out[1]["nodejs_ok"]
    assert out[1]["message"] == "not json"


def test_hosted_logging_destination_lines(spark):
    # loggly/logmatic/sumologic wire-line templates over one frame
    df = spark.createDataFrame(
        [(38, dt.datetime(2024, 6, 15, 10, 11, 5), "h1", "sshd", "77",
          "login ok"),
         (13, dt.datetime(2024, 6, 15, 10, 11, 6), None, None, None,
          "bare")],
        "pri int, ts timestamp, host string, prog string, pid string,"
        " msg string",
    )
    out = df.select(
        scl.loggly_line(
            "TOK", "prod", F.col("msg"), F.col("pri"), F.col("ts"),
            F.col("host"), F.col("prog"), F.col("pid"),
        ).alias("loggly"),
        scl.logmatic_line(
            "APIKEY", F.col("msg"), F.col("pri"), F.col("ts"),
            F.col("host"), F.col("prog"), F.col("pid"),
        ).alias("logmatic"),
        scl.sumologic_syslog_line(
            "COLTOK", "t1", F.col("msg"), F.col("pri"), F.col("ts"),
            F.col("host"), F.col("prog"), F.col("pid"),
        ).alias("sumo"),
    ).collect()
    # empty MSGID renders empty (bare macro) -> the reference's own
    # template would emit the same double space before the SD block
    assert out[0]["loggly"] == (
        '<38>1 2024-06-15T10:11:05Z h1 sshd 77  '
        '[TOK@41058 tag="prod"] login ok'
    )
    assert out[0]["logmatic"] == (
        'APIKEY <38>1 2024-06-15T10:11:05Z h1 sshd 77 - - login ok'
    )
    assert out[0]["sumo"] == (
        '<38>1 2024-06-15T10:11:05Z h1 sshd 77 - [COLTOK tag="t1"] '
        'login ok'
    )
    # absent header values: bare macros render empty (loggly), :--
    # renders '-' (logmatic/sumologic program/pid)
    assert out[1]["loggly"].startswith("<13>1 2024-06-15T10:11:06Z   ")
    assert " - - - -" in out[1]["logmatic"]
    assert out[1]["sumo"].startswith("<13>1 2024-06-15T10:11:06Z  - -")


def test_sumologic_http_body(spark):
    df = spark.createDataFrame(
        [(1,)], "id int"
    ).select(
        scl.sumologic_http_body(
            F.create_map(
                F.lit("SOURCE"), F.lit("s1"),
                F.lit("zkey"), F.lit("v2"),
                F.lit("akey"), F.lit('va"l'),
            )
        ).alias("body")
    )
    # SOURCE excluded, format-json's reverse key order, JSON-escaped
    assert df.first()["body"] == '{"zkey":"v2","akey":"va\\"l"}'


def test_darwin_oslog_stream_parser(spark):
    line = (
        '{"timestamp":"2024-05-01 10:00:00.123456+0200",'
        '"messageType":"Error","processImagePath":"/usr/libexec/air portd",'
        '"processID":"511","activityIdentifier":"0x42",'
        '"subsystem":"com.apple.wifi","category":"scan",'
        '"eventMessage":"scan failed"}'
    )
    minimal = (
        '{"timestamp":"2024-05-01 10:00:01+0000","messageType":"Whatever",'
        '"processImagePath":"","processID":"1","activityIdentifier":"0",'
        '"eventMessage":"boot"}'
    )
    df = spark.createDataFrame(
        [(0, line), (1, minimal), (2, "not json")], "id int, text string"
    )
    out = {r["id"]: r for r in scl.darwin_oslog_stream_parser(df).collect()}
    r = out[0]
    assert r["darwin_ok"]
    # metadata csv: Error -> unixpri 3; set-pri derives sev/fac
    assert r["pri"] == 3 and r["severity"] == 3 and r["facility"] == 0
    # basename + the block's space->literal-\0x20 subst
    assert r["program"] == "air\\0x20portd"
    assert r["procid"] == "511"
    assert r["message"] == "0x42 (com.apple.wifi) [scan] scan failed"
    assert r["msg_ts"] == dt.datetime(2024, 5, 1, 8, 0, 0, 123456)
    assert r["transport"] == "local+darwinoslog_stream"
    # unknown messageType -> default 5; empty subsystem/category omitted
    assert out[1]["pri"] == 5 and out[1]["message"] == "0 boot"
    assert out[1]["program"] == ""
    # non-json passthrough
    assert not out[2]["darwin_ok"] and out[2]["message"] == "not json"


def test_elasticsearch_datastream_body(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2024, 6, 15, 10, 11, 5), "h1", "sshd", "77",
          "login ok")],
        "ts timestamp, host string, prog string, pid string, msg string",
    )
    body = df.select(
        scl.elasticsearch_datastream_body(
            F.col("ts"), F.col("host"), F.col("prog"), F.col("pid"),
            F.col("msg"),
        ).alias("b")
    ).first()["b"]
    head, record = body.split("\n", 1)
    assert head == '{"create":{ }}'
    import json as _json

    rec = _json.loads(record)
    assert rec == {
        "@timestamp": "2024-06-15T10:11:05Z", "HOST": "h1",
        "PROGRAM": "sshd", "PID": "77", "MESSAGE": "login ok",
    }


def test_slack_attachment_body(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2024, 6, 15, 10, 11, 5), "h1", "app", "9", 3,
          "disk failing")],
        "ts timestamp, host string, prog string, pid string,"
        " sev int, msg string",
    )
    import json as _json

    body = _json.loads(df.select(
        scl.slack_attachment_body(
            F.col("msg"), F.col("host"), F.col("prog"), F.col("pid"),
            F.col("sev"), F.col("ts"),
        ).alias("b")
    ).first()["b"])
    assert body["color"] == "#F39C12"          # severity 3 -> 4th entry
    assert body["text"] == "disk failing"
    assert body["author_name"] == "host: h1 | program: app(9) | severity: err"
    assert body["fallback"].startswith("disk failing - host: h1")
    assert body["ts"] == str(int(dt.datetime(2024, 6, 15, 10, 11, 5,
                                             tzinfo=dt.timezone.utc).timestamp()))


def test_chat_and_logscale_bodies(spark):
    import json as _json

    df = spark.createDataFrame(
        [(dt.datetime(2024, 6, 15, 10, 11, 5), "h1", "app", None,
          "hello & <world>")],
        "ts timestamp, host string, prog string, pid string, msg string",
    )
    row = df.select(
        scl.discord_body(F.col("msg"), max_msg_length=7).alias("d"),
        scl.telegram_body(F.col("msg"), chat_id="42").alias("t"),
        scl.logscale_event_body(
            F.col("msg"), F.col("ts"), F.col("host"), F.col("prog"),
            F.col("pid"),
        ).alias("l"),
    ).first()
    d = _json.loads(row["d"])
    assert d == {"content": "hello &", "tts": False}  # truncated, empties gone
    assert row["t"] == (
        "disable_web_page_preview=true&disable_notification=false"
        "&parse_mode=none&chat_id=42&&text=hello+%26+%3Cworld%3E"
    )
    l = _json.loads(row["l"])
    assert l["rawstring"] == "hello & <world>"
    assert l["timestamp"] == "2024-06-15T10:11:05Z"
    assert l["attributes"] == {"HOST": "h1", "PROGRAM": "app"}  # PID null -> omitted
    assert "timezone" not in l


# ---------------------------------------------------------------------------
# round-5c: mariadb audit, postgresql csvlog, google-pubsub, azure-monitor
# ---------------------------------------------------------------------------


def test_mariadb_audit_parser(spark):
    # the four example lines from scl/mariadb/audit.conf (post-header
    # $MESSAGE bodies)
    rows = [
        (0, "columnstore-1 eff8a68bcd7f,user1,172.18.0.1,32,394,QUERY,"
            "syslog_ng,'SELECT * FROM test WHERE 0=1',1146"),
        (1, "columnstore-1 centos,root,localhost,11,117,QUERY,loans,"
            "'SELECT grade, AVG(loan_amnt) avg,FROM loanstats GROUP BY "
            "grade ORDER BY grade',0"),
        (2, "docker eff8a68bcd7f,root,172.18.0.3,13,0,CONNECT,,,0"),
        (3, "docker eff8a68bcd7f,user1,172.18.0.3,11,58,QUERY,syslog_ng,"
            "'insert into test (date, host, program, message) VALUES("
            "\\'Apr 29 15:55:24\\', \\'locohost\\', \\'test-program\\', "
            "\\'foo fighters bar baz\\')',0"),
    ]
    df = spark.createDataFrame(rows, "id int, message string")
    out = {
        r["id"]: r
        for r in scl.mariadb_audit_parser(df).orderBy("id").collect()
    }
    assert out[0][".mariadb.syslog_info"] == "columnstore-1"
    assert out[0][".mariadb.serverhost"] == "eff8a68bcd7f"
    assert out[0][".mariadb.username"] == "user1"
    assert out[0][".mariadb.object"] == "SELECT * FROM test WHERE 0=1"
    assert out[0][".mariadb.retcode"] == "1146"
    # quoted field keeps its embedded commas
    assert "GROUP BY grade" in out[1][".mariadb.object"]
    assert out[1][".mariadb.retcode"] == "0"
    # CONNECT row: empty database/object
    assert out[2][".mariadb.operation"] == "CONNECT"
    assert out[2]["mariadb_ok"]  # empty fields are legal, row kept
    # escape-backslash: \' inside the quoted SQL survives unescaped
    assert "'Apr 29 15:55:24'" in out[3][".mariadb.object"]
    assert out[3][".mariadb.operation"] == "QUERY"


def test_postgresql_csvlog_parser(spark):
    # csvlog line per postgresql runtime-config-logging: 26 columns,
    # quoted fields with doubled quotes
    line = (
        '2023-02-14 10:00:12.345 UTC,"postgres","mydb",4242,'
        '"127.0.0.1:50314",63eb4c2c.1092,2,"SELECT",'
        "2023-02-14 10:00:00 UTC,3/13,0,ERROR,42P01,"
        '"relation ""missing"" does not exist",,,,15,'
        '"plpgsql block","SELECT * FROM missing",8,,"psql","client backend",,'
        "123"
    )
    panic = (
        '2023-02-14 10:00:12.345 UTC,"postgres","mydb",4242,'
        ",63eb4c2c.1092,3,,,,0,PANIC,XX000,"
        '"stack depth limit exceeded",,,,,,,,,"psql","client backend",,'
    )
    dbg = panic.replace(",PANIC,XX000,", ",DEBUG3,00000,")
    warn = panic.replace(",PANIC,XX000,", ",WARNING,01000,")
    fatal = panic.replace(",PANIC,XX000,", ",FATAL,57P01,")
    df = spark.createDataFrame(
        [(0, line), (1, panic), (2, dbg), (3, warn), (4, fatal)],
        "id int, text string",
    )
    out = {
        r["id"]: r
        for r in scl.postgresql_csvlog_parser(df).orderBy("id").collect()
    }
    r = out[0]
    assert r[".pgsql.username"] == "postgres"
    assert r["pid"] == 4242
    # escape-double-char: ""missing"" -> "missing"
    assert r["message"] == 'relation "missing" does not exist'
    assert r[".pgsql.query_id"] == 123
    assert str(r["ts"]).startswith("2023-02-14 10:00:12.345")
    # severity ladder: ERROR(3) -> warning(4); PANIC(0) -> crit(2);
    # DEBUG3 -> debug(7); WARNING(4) -> notice(5); FATAL unresolved ->
    # stays at the 5 default then no shift applies (>4)
    assert r["severity"] == 4
    assert out[1]["severity"] == 2
    assert out[2]["severity"] == 7
    assert out[3]["severity"] == 5
    assert out[4]["severity"] == 5
    assert all(out[i]["pgsql_ok"] for i in out)


def test_postgresql_csvlog_malformed_timestamp_is_null(spark):
    good = (
        '2023-02-14 10:00:12.345 UTC,"postgres","mydb",4242,'
        ',63eb4c2c.1092,3,,,,0,LOG,00000,'
        '"checkpoint starting",,,,,,,,,"psql","client backend",,'
    )
    bad = good.replace("2023-02-14 10:00:12.345 UTC", "garbage-ts")
    df = spark.createDataFrame([(0, good), (1, bad)], "id int, text string")
    out = {r["id"]: r for r in scl.postgresql_csvlog_parser(df).collect()}
    assert str(out[0]["ts"]).startswith("2023-02-14 10:00:12.345")
    assert out[1]["ts"] is None
    assert out[1]["message"] == "checkpoint starting" and out[1]["pid"] == 4242


def test_google_pubsub_and_azure_bodies(spark):
    df = spark.createDataFrame(
        [("hello", {"HOST": "h1", "PROGRAM": "app"})],
        "data string, attrs map<string,string>",
    )
    ev = df.select(
        scl.google_pubsub_event(F.col("data"), F.col("attrs")).alias("ev")
    )
    import base64
    import json

    rendered = ev.collect()[0]["ev"]
    msg = json.loads(rendered)
    assert base64.b64decode(msg["data"]).decode() == "hello"
    # flat attributes, reverse-lex key order in the rendered text
    assert msg["attributes"] == {"HOST": "h1", "PROGRAM": "app"}
    assert rendered.index('"PROGRAM"') < rendered.index('"HOST"')

    az = ev.agg(
        scl.azure_monitor_body(F.collect_list("ev")).alias("b")
    ).collect()[0]["b"]
    arr = json.loads(az)
    assert isinstance(arr, list) and arr[0]["attributes"]["HOST"] == "h1"


def test_postgresql_csvlog_functional_goldens(spark):
    """The two golden lines from the reference's functional suite
    (tests/light postgresql-csvlog-parser): short v12-era column
    counts, quoted message with doubled quotes AND embedded commas,
    DEBUG3 -> debug, LOG unresolvable -> the incoming severity (the
    functional source arrives at info), empty connection_from
    defaulting to $HOST_FROM."""
    l1 = (
        '2023-09-20 16:50:02.165 CET,,,407764,,650b069a.638d4,2,,'
        '2023-09-20 16:50:02 CET,,0,DEBUG3,00000,"starting PostgreSQL '
        '15.4 (Ubuntu 15.4-0ubuntu0.23.04.1) on x86_64-pc-linux-gnu, '
        'compiled by gcc (Ubuntu 12.3.0-1ubuntu1~23.04) 12.3.0, '
        '64-bit",,,,,,,,,"","postmaster",,0'
    )
    l2 = (
        '2023-08-08 12:05:52.805 UTC,,,22113,,64d22fa0.5661,1,,'
        '2023-08-08 12:05:52 UTC,23/74060,0,LOG,00000,"automatic vacuum '
        'of table ""tablename"": index scans: 0",,,,,,,,,""'
    )
    df = spark.createDataFrame(
        [(0, l1, 6, "localhost"), (1, l2, 6, "localhost")],
        "id int, text string, severity int, host_from string",
    )
    out = {
        r["id"]: r
        for r in scl.postgresql_csvlog_parser(df, host_from_col="host_from")
        .orderBy("id")
        .collect()
    }
    assert out[0]["pid"] == 407764
    assert out[0]["message"].startswith("starting PostgreSQL 15.4")
    assert out[0]["severity"] == 7  # DEBUG3
    assert str(out[0]["ts"]).startswith("2023-09-20 16:50:02.165")
    assert out[0][".pgsql.session_id"] == "650b069a.638d4"
    assert out[0][".pgsql.query_id"] == 0
    assert out[1]["severity"] == 6  # LOG unresolvable -> incoming info
    assert out[1]["message"] == (
        'automatic vacuum of table "tablename": index scans: 0'
    )
    assert out[1][".pgsql.connection_from"] == "localhost"
    assert out[1][".pgsql.virtual_transaction_id"] == "23/74060"
    assert all(out[i]["pgsql_ok"] for i in out)


def test_cisco_full_parser_reference_goldens(spark):
    """Every parameter row of the reference's functional suite
    (tests/light functional_tests/parsers/cisco-parser/
    test_cisco_parser.py) through the full wire grammar. HOST rows
    the reference fills from the receiver's hostname stay NULL here
    (batch has no receiver)."""
    wires = [
        (0, r"<189>29: foo: *Apr 29 13:58:40.411: %SYS-5-CONFIG_I: Configured from console by console"),
        (1, r"<190>30: foo: *Apr 29 13:58:46.411: %SYS-6-LOGGINGHOST_STARTSTOP: Logging to host 192.168.1.239 stopped - CLI initiated"),
        (2, r"<190>31: foo: *Apr 29 13:58:46.411: %SYS-6-LOGGINGHOST_STARTSTOP: Logging to host 192.168.1.239 started - CLI initiated"),
        (3, r"<189>35: *Apr 29 14:00:16.059: %SYS-5-CONFIG_I: Configured from console by console"),
        (4, r"<190>32: foo: *Apr 29 13:58:46.411: %SYSMGR-STANDBY-3-SHUTDOWN_START: The System Manager has started the shutdown procedure."),
        (5, r"<180>782431: machine1: .Nov 18 21:03:22.631 GMT: %CDP-4-NATIVE_VLAN_MISMATCH: Native VLAN mismatch discovered on TenGigabitEthernet."),
        (6, r"<166>2022-02-16T15:31:53Z na-zy-int-fp1140-p02 : %FTD-6-305012: Teardown dynamic TCP translation from FOO-WAN_IN:10.44.60.80/59877 to FOO-OUTSIDE:6.7.8.9/59877 duration 0:01:01"),
        (7, r"<164>Aug 08 16:58:18 DEVICE123 : %FTD-4-106023: test cisco asa"),
        (8, r"<190>123030: some-remote-host: %SYS-5-LOGGINGHOST_STARTSTOP: Logging to host 192.168.1.239 stopped - CLI initiated"),
        (9, r"<187>138076: RP/0/RP0/CPU0:Dec 11 12:43:29.227 EST: snmpd[1002]: %SNMP-SNMP-3-AUTH_FAIL : Received snmp request on unknown community from 0.0.0.0"),
        (10, r"<187>3408: CLC 6/0: Dec 11 13:31:14.214 EST: %PKI-3-CERTIFICATE_INVALID_EXPIRED: Certificate chain validation has failed.  The certificate (SN: XXXXXXXX) has expired.    Validity period ended on 2025-01-23T00:00:00Z"),
    ]
    df = spark.createDataFrame(wires, "id int, text string")
    out = {r["id"]: r.asDict() for r in scl.cisco_full_parser(df).collect()}

    exp = {
        0: (189, "foo", "Apr 29 13:58:40", 411, "SYS", 5, "CONFIG_I"),
        1: (190, "foo", "Apr 29 13:58:46", 411, "SYS", 6, "LOGGINGHOST_STARTSTOP"),
        2: (190, "foo", "Apr 29 13:58:46", 411, "SYS", 6, "LOGGINGHOST_STARTSTOP"),
        3: (189, None, "Apr 29 14:00:16", 59, "SYS", 5, "CONFIG_I"),
        4: (190, "foo", "Apr 29 13:58:46", 411, "SYSMGR-STANDBY", 3, "SHUTDOWN_START"),
        5: (180, "machine1", "Nov 18 21:03:22", 631, "CDP", 4, "NATIVE_VLAN_MISMATCH"),
        6: (166, "na-zy-int-fp1140-p02", "Feb 16 15:31:53", 0, "FTD", 6, "305012"),
        7: (164, "DEVICE123", "Aug 08 16:58:18", 0, "FTD", 4, "106023"),
        8: (190, "some-remote-host", None, None, "SYS", 5, "LOGGINGHOST_STARTSTOP"),
        9: (187, None, "Dec 11 12:43:29", 227, "SNMP-SNMP", 3, "AUTH_FAIL"),
        10: (187, None, "Dec 11 13:31:14", 214, "PKI", 3, "CERTIFICATE_INVALID_EXPIRED"),
    }
    for i, (pri, host, dstr, msec, fac, sev, mnem) in exp.items():
        r = out[i]
        assert r["cisco_ok"], (i, r)
        assert r["cisco_pri"] == pri, i
        assert r["cisco_host"] == host, (i, r["cisco_host"])
        got_date = (
            r["cisco_ts"].strftime("%b %d %H:%M:%S") if r["cisco_ts"] else None
        )
        assert got_date == dstr, (i, got_date)
        assert r["cisco_msec"] == msec, (i, r["cisco_msec"])
        assert r["cisco_facility"] == fac, (i, r["cisco_facility"])
        assert r["cisco_severity"] == sev, i
        assert r["cisco_mnemonic"] == mnem, (i, r["cisco_mnemonic"])
        # MSG is '%' + everything after the split, byte-preserved
        assert r["cisco_msg"].startswith("%" + fac), i
    assert out[9]["cisco_cpu_module"] == "RP/0/RP0/CPU0"
    assert out[10]["cisco_cpu_module"] == "CLC 6/0"
    assert out[9]["cisco_msg"] == (
        "%SNMP-SNMP-3-AUTH_FAIL : Received snmp request on unknown "
        "community from 0.0.0.0"
    )


def test_reference_topic_syslog_app_detection_goldens(spark):
    """The reference's app-parser(topic(syslog)) functional rows
    (tests/light functional_tests/parsers/app-parser/test_topic_syslog):
    five wire messages, each expected to auto-detect its application —
    iptables content inside an snmptrapd varbind (program kernel +
    IN=/OUT= substrings), junos by its RFC5424 SDATA reason, sudo by
    program over the BSD branch, and the @cim:/@cee: JSON markers."""
    from axosyslog_spark.operators.parse import parse_sdata

    wires = [
        (0, "<0>1 2012-03-05T15:10:34+02:00 localhost kernel 1234 - - "
            "transport_info='UDP: [10.30.35.100]:60513->[10.30.0.35]:162', "
            "SNMPv2-SMI::enterprises.9.9.41.1.2.3.1.5.0='[ 2771.344837] "
            "PF: filter/input DROP IN=eth0 OUT= MAC=08:00:27:d5:33:1e "
            "SRC=10.30.0.35 DST=10.30.35.100 LEN=60 PROTO=TCP SPT=52988 "
            "DPT=5355 SYN URGP=0 '", "iptables"),
        (1, '<14>1 2019-04-12T14:29:06.576Z - RT_FLOW - '
            'RT_FLOW_SESSION_CLOSE [junos@2636.1.1.1.2.129 reason="TCP FIN" '
            'source-address="10.3.255.203" destination-port="80"] '
            'session closed TCP FIN', "junos"),
        (2, "Apr 18 12:33:50 nobody sudo[25173]:   nobody : TTY=pts/13 ; "
            "PWD=/home/nobody ; USER=root ; COMMAND=/bin/ls", "sudo"),
        (3, '<0>1 2012-03-05T15:10:34+02:00 localhost kernel 1234 - - '
            '@cim: {"name1":"value1", "name2":"value2"}', "cim"),
        (4, '<0>1 2012-03-05T15:10:34+02:00 localhost kernel 1234 - - '
            '@cee: {"name1":"value1", "name2":"value2"}', "cee"),
    ]
    df = parse_sdata(
        spark.createDataFrame(wires, "id int, text string, expected string"),
        "text",
    )
    body = F.col("body")
    syslog_apps = [
        ("junos", scl.junos_app_filter(F.col("sdata")), lambda d: d),
        (
            "sudo",
            F.col("appname") == "sudo",
            lambda d: scl.sudo_parser(d, src_col="body"),
        ),
        (
            "iptables",
            scl.iptables_app_filter(F.col("facility"), F.col("appname"), body),
            lambda d: scl.iptables_parser(d, src_col="body"),
        ),
        ("cim", body.startswith("@cim:"), lambda d: d),
        ("cee", body.startswith("@cee:"), lambda d: scl.cee_parser(d, src_col="body")),
    ]
    out = scl.default_network_drivers(df, syslog_apps=syslog_apps)
    got = {r["id"]: r["app"] for r in out.collect()}
    for i, _, expected in wires:
        assert got[i] == expected, (i, got[i], expected)


def test_panos_parser_reference_goldens(spark):
    """The panos functional rows (tests/light
    functional_tests/parsers/panos): SYSTEM branch (with tolerated
    extra trailing columns) and CONFIG branch (standard and
    custom-log with before/after change columns) over full wire
    lines."""

    wires = [
        (0, "<12>Apr 14 16:48:54 paloalto.test.net 1,2020/04/14 16:48:54,unknown,SYSTEM,auth,0,2020/04/14 16:48:54,,auth-fail,,0,0,general,medium,failed authentication for user 'admin'. Reason: Invalid username/password. From: 10.0.10.55.,1718,0x0,0,0,0,0,,paloalto",
         ("SYSTEM", "auth-fail", "paloalto")),
        (1, "<12>Apr 14 16:48:54 paloalto.test.net 1,2020/04/14 16:48:54,unknown,SYSTEM,auth,0,2020/04/14 16:48:54,,auth-fail,,0,0,general,medium,failed authentication for user 'admin'. Reason: Invalid username/password. From: 10.0.10.55.,1718,0x0,0,0,0,0,,paloalto,foo,bar",
         ("SYSTEM", "auth-fail", "paloalto")),
        (2, "<14>Apr 14 16:54:18 paloalto.test.net 1,2020/04/14 16:54:18,unknown,CONFIG,0,0,2020/04/14 16:54:18,10.0.10.55,,set,admin,Web,Succeeded,deviceconfig system,127,0x0,0,0,0,0,,paloalto",
         ("CONFIG", None, "paloalto")),
        (3, "<14>Apr 14 16:54:18 paloalto.test.net 1,2020/04/14 16:54:18,unknown,CONFIG,0,0,2020/04/14 16:54:18,10.0.10.55,,set,admin,Web,Succeeded,deviceconfig system,before,after,127,0x0,0,0,0,0,,paloalto",
         ("CONFIG", None, "paloalto")),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in wires], "id int, text string"
    )
    out = {r["id"]: r.asDict()
           for r in scl.panos_parser(df, src_col="text").collect()}
    for i, _, (typ, eventid, dev) in wires:
        r = out[i]
        assert r["panos_ok"], i
        assert r["panos_type"] == typ, i
        if eventid is not None:
            assert r["panos_fields"].get("eventid") == eventid, (
                i, r["panos_fields"],
            )
        else:  # CONFIG branch: path column instead of eventid
            assert r["panos_fields"].get("path") == "deviceconfig system", (
                i, r["panos_fields"],
            )
        assert r["panos_fields"].get("device_name") == dev, i


def test_checkpoint_parser_short_lines_do_not_abort(spark, tmp_path):
    """'<'-led lines with too few tokens for the MSG column: the ISO
    ("seven") branch on a 3-token line and the two-part branch on a
    1-token line read past the split. Under ANSI that used to raise
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT and abort the job; the message is
    NULL instead. Read from parquet: a literal frame is constant-folded
    at plan time and hides the runtime error."""
    path = str(tmp_path / "short.parquet")
    spark.createDataFrame(
        [(0, "<13>hello"), (1, "<13>1 2024-01-01T00:00:00Z host")],
        "id int, text string",
    ).write.parquet(path)
    out = {
        r["id"]: r.asDict()
        for r in scl.checkpoint_parser(spark.read.parquet(path)).collect()
    }
    assert out[0][".checkpoint.msg"] is None
    assert not out[0][".checkpoint.ok"]
    assert out[1][".checkpoint.msg"] is None
    assert out[1]["host"] == "host"


def test_checkpoint_parser_reference_goldens(spark):
    """Every row of the reference's checkpoint functional suite
    (tests/light functional_tests/parsers/checkpoint): the 8-column
    space-stamp form, the 7-column ISO form (naked, and with Z), and
    the bracketed key:"value"; section — which must be scanned from
    the MESSAGE tail only (scanning the raw line used to leak a junk
    pair cut out of the timestamp's colons)."""
    import datetime as _dt

    wires = [
        (0, r'<134>1 2018-03-21 17:25:25 MDS-72 CheckPoint 13752 - [action:"Update"; flags:"150784"; origin:"192.168.32.91"; time:"1521645925"; src_machine_name:"yonatanad";]',
         ("MDS-72", _dt.datetime(2018, 3, 21, 17, 25, 25))),
        (1, r'<134>1 2018-03-21T17:25:25 MDS-72 CheckPoint 13752 - [action:"Update"; auth_method:"Machine Authentication (Active Directory)";]',
         ("MDS-72", _dt.datetime(2018, 3, 21, 17, 25, 25))),
        (2, r'<134>1 2019-11-27T02:58:25Z ABDP-CPLOG01 CheckPoint 22103 - [action:"Accept"; ifname:"bond1.734"; rule_name:"3G IP Pool Outgoing";]',
         ("ABDP-CPLOG01", _dt.datetime(2019, 11, 27, 2, 58, 25))),
        (3, r'<134>1 2020-01-02T14:04:50Z fwmgmt CheckPoint 16559 - [action:"Accept"; layer_name:"Network"; service_id:"domain-udp";]',
         ("fwmgmt", _dt.datetime(2020, 1, 2, 14, 4, 50))),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in wires], "id int, text string"
    )
    out = {r["id"]: r.asDict() for r in scl.checkpoint_parser(df).collect()}
    for i, _, (host, ts) in wires:
        r = out[i]
        assert r[".checkpoint.ok"], i
        assert r["program"] == "CheckPoint" and r["host"] == host, i
        assert r[".checkpoint.ts"] == ts, (i, r[".checkpoint.ts"])
        kv = r[".checkpoint.kv"]
        assert all(k.startswith(".checkpoint.") for k in kv)
        # no junk keys cut out of the header (the regression this
        # golden caught): every key is a word, never a date fragment
        assert not any(any(ch.isdigit() for ch in k.split(".")[-1][:2])
                       for k in kv), kv
    assert out[0][".checkpoint.kv"][".checkpoint.src_machine_name"] == "yonatanad"
    assert out[1][".checkpoint.kv"][".checkpoint.auth_method"] == (
        "Machine Authentication (Active Directory)"
    )
    assert out[2][".checkpoint.kv"][".checkpoint.rule_name"] == "3G IP Pool Outgoing"
