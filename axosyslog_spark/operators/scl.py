"""SCL application adapters — the scl/ block library re-expressed.

The reference ships ~57 app-specific configuration blocks (scl/) that
compose the core operators (csv/kv/json/date parsers, filters,
rewrites) into per-application parsers, plus the `app-parser()`
auto-detection framework (first matching application's filter wins
and its parser runs). Each adapter here is the same composition as
one DataFrame projection stage:

  - apache_accesslog_parser  — scl/apache/apache.conf (vhost_combined /
    vhost_common / combined / common LogFormats, logstash-like schema)
  - sudo_parser              — scl/sudo/sudo.conf
  - iptables_parser          — scl/iptables/iptables.conf
  - cee_parser               — scl/cee/adapter.conf (@cee: JSON)
  - cisco_parser             — scl/cisco/plugin.conf (timestamp
    variants + %FAC-SEV-MNEMONIC triplet, documented subset)
  - cisco_full_parser        — scl/cisco/plugin.conf full channel
    (the one checked against the reference goldens)
  - fortigate_parser         — scl/fortigate/fortigate.conf
  - panos_parser             — scl/paloalto/panos.conf (TRAFFIC /
    THREAT / SYSTEM / CONFIG positional schemas)
  - app_parser               — lib/appmodel app-parser() analog:
    ordered (name, filter, parser) table, first-match-wins routing
  - ewmm_parser              — scl/ewmm (enterprise-wide message model)
  - credit_card_mask         — scl/rewrite/cc-mask.conf
  - checkpoint_parser        — scl/checkpoint/plugin.conf
  - junos_app_filter         — scl/junos/plugin.conf (filter only)
  - pihole_ftl_parser        — scl/pihole/pihole.conf
  - collectd_putval          — scl/collectd/plugin.conf (PUTVAL body)
  - splunk_hec_event         — scl/splunk/splunk.conf (HEC event JSON)
  - mbox_source              — scl/mbox/mbox.conf ('^From ' framing)
  - default_network_drivers  — scl/default-network-drivers/plugin.conf
    (the raw-app / syslog / ewmm / app-parser composition)
  - solaris_msgid_parser     — scl/solaris/plugin.conf
  - arr_parser               — scl/arr/arr.conf (Radarr/Sonarr family)
  - jellyfin_parser          — scl/jellyfin/jellyfin.conf
  - qbittorrent_parser       — scl/qbittorrent/qbittorrent.conf
  - nodejs_winston_parser    — scl/nodejs/plugin.conf
  - darwin_oslog_stream_parser — scl/darwinosl/plugin.conf
  - mariadb_audit_parser    — scl/mariadb/audit.conf
  - postgresql_csvlog_parser — scl/pgsql/pgsql.conf (26-column
    csvlog + the shifted severity ladder)
  - loggly_line / logmatic_line / sumologic_syslog_line /
    sumologic_http_body / elasticsearch_datastream_body /
    slack_attachment_body / discord_body / telegram_body /
    logscale_event_body / google_pubsub_event /
    azure_monitor_body — hosted-destination wire formats (the
    transports are N/A-batch; each block's rendered line/body is
    the artifact)

Everything is column algebra; `drop-invalid` behaviors surface as an
`*_ok` boolean so routing can keep the reference's path semantics.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from axosyslog_spark.operators.dateparse import parse_date

# scl/apache/apache.conf: vhost filter `^[A-Za-z0-9\-\._]+:[0-9]+ `
_VHOST = r"[A-Za-z0-9\-\._]+:[0-9]+"
# combined/common core:  %h %l %u [%t] "%r" %>s %b ["%{Referer}" "%{UA}"]
_APACHE_RE = (
    rf"^(?:({_VHOST}) )?"            # 1 vhost:port (vhost_* formats)
    r"(\S+) (\S+) (\S+) "            # 2 clientip  3 ident  4 auth
    r"\[([^\]]*)\] "                 # 5 timestamp ('[]' quote-pair)
    r"\"((?:[^\"\\]|\\.)*)\" "       # 6 rawrequest (backslash escapes)
    r"(\S+) (\S+)"                   # 7 response  8 bytes
    r"(?: \"((?:[^\"\\]|\\.)*)\""    # 9 referrer (combined only)
    r" \"((?:[^\"\\]|\\.)*)\")?$"    # 10 agent
)


def apache_accesslog_parser(
    df: DataFrame, src_col: str = "text", prefix: str = "apache_"
) -> DataFrame:
    """scl/apache apache-accesslog-parser(): the four LogFormats into
    the logstash-like schema; timestamp parsed with
    '%d/%b/%Y:%H:%M:%S %z' (the block's date-parser), rawrequest split
    into verb/request/httpversion with the HTTP/ prefix stripped
    (the block's second csv-parser + subst), numeric casts for
    response/bytes. Non-matching rows get {prefix}ok = false."""
    src = F.col(src_col)
    m = F.regexp_extract_all(src, F.lit(_APACHE_RE), 0)
    ok = F.size(m) > 0

    def g(i: int) -> Column:
        return F.when(ok, F.regexp_extract(src, _APACHE_RE, i))

    unesc = lambda c: F.regexp_replace(c, r"\\(.)", "$1")  # noqa: E731
    raw = unesc(g(6))
    # request-line: VERB SP REQUEST SP HTTPVERSION (drop-invalid in the
    # block: anything else leaves the triplet null)
    req_ok = raw.rlike(r"^\S+ \S+ \S+$")
    out = df.withColumns(
        {
            f"{prefix}ok": ok,
            f"{prefix}vhost": F.nullif(g(1), F.lit("")),
            f"{prefix}clientip": g(2),
            f"{prefix}ident": g(3),
            f"{prefix}auth": g(4),
            # the shape regex accepts any [...] content; a malformed
            # date inside the brackets is NULL (the block's
            # drop-invalid semantics), not a job abort
            f"{prefix}timestamp": parse_date(g(5), ("dd/MMM/yyyy:HH:mm:ss XX",)),
            f"{prefix}rawrequest": raw,
            f"{prefix}response": g(7).try_cast("int"),
            f"{prefix}bytes": F.when(g(8) != "-", g(8)).try_cast("bigint"),
            # common (no-referrer) format: the csv-parser would simply
            # not set these columns -> NULL, not empty string
            f"{prefix}referrer": F.nullif(unesc(g(9)), F.lit("")),
            f"{prefix}agent": F.nullif(unesc(g(10)), F.lit("")),
            f"{prefix}verb": F.when(req_ok, F.split(raw, " ")[0]),
            f"{prefix}request": F.when(req_ok, F.split(raw, " ")[1]),
            f"{prefix}httpversion": F.when(
                req_ok, F.regexp_replace(F.split(raw, " ")[2], "^HTTP/", "")
            ),
        }
    )
    return out


def sudo_parser(
    df: DataFrame, src_col: str = "text", prefix: str = "sudo_"
) -> DataFrame:
    """scl/sudo sudo-parser(): ';'-separated kv pairs (TTY=... ; PWD=
    ... ; USER=... ; COMMAND=...), the leading stray word becomes
    SUBJECT (the invoking user), rows without COMMAND dropped (the
    block's pam-noise filter)."""
    from axosyslog_spark.operators.kvscan import (
        kv_pairs_to_map,
        kv_scan,
        kv_stray_words,
    )

    src = F.col(src_col)
    pairs = kv_scan(src, pair_separator=" ; ")
    kv = kv_pairs_to_map(pairs)
    stray = kv_stray_words(src, pair_separator=" ; ")
    out = df.withColumns(
        {
            f"{prefix}SUBJECT": F.split(stray, ",")[0],
            **{
                f"{prefix}{k}": F.element_at(kv, k)
                for k in ("TTY", "PWD", "USER", "COMMAND")
            },
        }
    )
    return out.filter(F.col(f"{prefix}COMMAND").isNotNull())


def iptables_parser(
    df: DataFrame, src_col: str = "text", prefix: str = "iptables_"
) -> DataFrame:
    """scl/iptables iptables-parser(): plain kv-parser over the
    netfilter log line (IN= OUT= SRC= DST= PROTO= SPT= DPT= ...);
    empty-valued keys (IN=) stay as empty strings like the scanner.
    Duplicate keys (the bracketed inner header of an ICMP error line
    repeats SRC=/DST=/PROTO=) keep the LAST occurrence — the inner
    header — matching kv-parser's repeated NV-set overwrite; the
    reference never aborts on duplicates."""
    from axosyslog_spark.operators.kvscan import kv_pairs_to_map, kv_scan

    pairs = kv_scan(F.col(src_col), pair_separator=" ")
    return df.withColumn(f"{prefix}kv", kv_pairs_to_map(pairs))


def iptables_app_filter(
    facility: Column, program: Column, message: Column
) -> Column:
    """application iptables[syslog] filter: facility(kern) and
    program('kernel') and message contains 'PROTO='."""
    return (facility == 0) & (program == "kernel") & message.contains("PROTO=")


def cee_parser(
    df: DataFrame, src_col: str = "text", out_col: str = "cee"
) -> DataFrame:
    """scl/cee: json-parser(marker('@cee:') prefix('.cee.'))."""
    from axosyslog_spark.operators.jsonflatten import json_flatten

    return json_flatten(df, src_col, out_col, prefix=".cee.", marker="@cee:")


# scl/cisco plugin.conf timestamp patterns (the three @define's)
_CISCO_TS = (
    r"^[\*\.]?([A-Za-z]{3} [0-9 ]\d (?:\d{4} )?\d{2}:\d{2}:\d{2}"
    r"(?:\.\d{3})?(?: (?:AM|PM))?)"
)
_CISCO_TS_ISO = r"^(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})"
_CISCO_TS_NXOS = r"^(\d{4} [A-Za-z]{3} [0-9 ]\d \d{2}:\d{2}:\d{2})"
_CISCO_TS_FORMATS = (
    "MMM d h:mm:ss a.SSS", "MMM d h:mm:ss a", "MMM d HH:mm:ss.SSS",
    "MMM d HH:mm:ss", "MMM d yyyy HH:mm:ss.SSS", "MMM d yyyy HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss", "yyyy MMM d HH:mm:ss",
)
# %FACILITY-SEVERITY-MNEMONIC: (cisco-triplet-parser; the 4-part
# %FACILITY-SUBFACILITY-SEVERITY-MNEMONIC variant keeps
# "FACILITY-SUBFACILITY" joined, per the block's
# set("${facility}-$4") rewrite — plugin.conf cisco-triplet-parser)
_CISCO_TRIPLET = r"%([A-Z0-9_]+(?:-[A-Z0-9_]+)?)-([0-7])-([A-Z0-9_]+) ?:"


def cisco_parser(
    df: DataFrame, src_col: str = "text", prefix: str = "cisco_"
) -> DataFrame:
    """scl/cisco cisco-parser() documented subset: optional leading
    sequence number, the three timestamp shapes (IOS / ISO / NX-OS)
    parsed through the block's strptime format ladder, and the
    %FAC[-SUB]-SEV-MNEMONIC triplet with the remainder as message."""
    src = F.col(src_col)
    body = F.regexp_replace(src, r"^(?:<\d+>)?(?:\d+: )?", "")  # seqno
    ts_str = F.coalesce(
        *[
            F.nullif(F.regexp_extract(body, p, 1), F.lit(""))
            for p in (_CISCO_TS, _CISCO_TS_ISO, _CISCO_TS_NXOS)
        ]
    )
    # normalize double-space day padding ('Jan  5' -> 'Jan 5')
    ts_norm = F.regexp_replace(ts_str, r"\s+", " ")
    ts = parse_date(ts_norm, _CISCO_TS_FORMATS)
    trip_ok = body.rlike(_CISCO_TRIPLET)
    return df.withColumns(
        {
            f"{prefix}ts": ts,
            f"{prefix}ok": trip_ok,
            f"{prefix}facility": F.when(
                trip_ok, F.regexp_extract(body, _CISCO_TRIPLET, 1)
            ),
            f"{prefix}severity": F.when(
                trip_ok, F.regexp_extract(body, _CISCO_TRIPLET, 2)
            ).try_cast("int"),
            f"{prefix}mnemonic": F.when(
                trip_ok, F.regexp_extract(body, _CISCO_TRIPLET, 3)
            ),
            f"{prefix}message": F.when(
                trip_ok,
                F.ltrim(F.regexp_extract(body, _CISCO_TRIPLET + r"\s*(.*)$", 4)),
            ),
        }
    )


_CISCO_HDR_ISO_HOST = _CISCO_TS_ISO[1:] + r"\w* (\S+)\s*$"  # drop '^' re-anchor below
_CISCO_CPU = r"^(RP/[0-9]/[^:]+):(.*)|^(CLC [0-9]/[0-9]): +(.*)"


def cisco_full_parser(
    df: DataFrame, src_col: str = "text", prefix: str = "cisco_"
) -> DataFrame:
    """The COMPLETE scl/cisco wire grammar (plugin.conf cisco-parser):
    ``<pri>(sequence: )?(origin: )?(timestamp? timezone?: )?%msg`` plus
    the NGFW/FTD ISO form and the IOS-XR/XE cpu-module prefixes.

    Flow mirrors the block: strip <pri>; split the line at the first
    ``: %`` (MSG = '%' + remainder, preserved verbatim); strip the
    "seqno: " / bare ": " (NXOS 9.3) prefix; then the header ladder —
    ISO-ts + tz + HOST-at-end, cisco-ts + HOST-at-end, cpu_module
    (``RP/n/...:`` ios-xr, ``CLC n/n:`` cbr8) + ts, ``HOST: ts``,
    bare HOST, empty. The triplet keeps FACILITY-SUBFACILITY joined
    (set("${facility}-$4")) and tolerates the ``MNEMONIC :`` spaced
    form. A HOST the wire doesn't carry stays NULL (the reference
    falls back to the receiver's hostname, which a batch engine does
    not have). Goldens: tests/light functional_tests/parsers/
    cisco-parser ported in tests/test_scl.py."""
    src = F.col(src_col)
    pri = F.regexp_extract(src, r"^<(\d+)>", 1).try_cast("int")
    rest = F.regexp_replace(src, r"^<\d+>", "")
    split_at = F.instr(rest, ": %")
    ok = split_at > 0
    header = F.regexp_replace(
        F.substring(rest, F.lit(1), split_at - 1),
        r"^(?:[0-9]+: |: )", "",
    )
    msg = F.concat(F.lit("%"), F.substr(rest, split_at + F.lit(3)))

    # branch 1 (plugin.conf first if): timestamp at the header start,
    # with an OPTIONAL trailing host (the inner if is else-less, so a
    # missing host still takes this branch and HOST stays unset)
    ts_at_head = F.coalesce(
        *[
            F.nullif(F.regexp_extract(header, p, 1), F.lit(""))
            for p in (_CISCO_TS, _CISCO_TS_ISO, _CISCO_TS_NXOS)
        ]
    )
    iso_host = F.regexp_extract(header, r"^" + _CISCO_HDR_ISO_HOST, 2)
    ts_host = F.regexp_extract(
        header, _CISCO_TS[:-1] + r") (\S+)\s*$", 2
    )
    cpu = F.nullif(
        F.concat(
            F.regexp_extract(header, _CISCO_CPU, 1),
            F.regexp_extract(header, _CISCO_CPU, 3),
        ),
        F.lit(""),
    )
    cpu_rest = F.when(
        cpu.isNotNull(),
        F.concat(
            F.regexp_extract(header, _CISCO_CPU, 2),
            F.regexp_extract(header, _CISCO_CPU, 4),
        ),
    )
    host_colon = F.regexp_extract(header, r"^([^:]+): (.*)", 1)
    host_rest = F.regexp_extract(header, r"^([^:]+): (.*)", 2)
    bare_host = F.regexp_extract(header, r"^([^:]+)$", 1)

    host = (
        F.when(
            ts_at_head.isNotNull(),
            F.nullif(F.coalesce(F.nullif(iso_host, F.lit("")), ts_host), F.lit("")),
        )
        .when(cpu.isNotNull(), F.lit(None).cast("string"))
        .when(host_colon != "", host_colon)
        .otherwise(F.nullif(bare_host, F.lit("")))
    )
    ts_src = (
        F.when(ts_at_head.isNotNull(), header)
        .when(cpu.isNotNull(), F.ltrim(cpu_rest))
        .when(host_colon != "", host_rest)
        .otherwise(F.lit(""))
    )
    ts_str = F.coalesce(
        *[
            F.nullif(F.regexp_extract(ts_src, p, 1), F.lit(""))
            for p in (_CISCO_TS, _CISCO_TS_ISO, _CISCO_TS_NXOS)
        ]
    )
    msec = F.coalesce(
        F.regexp_extract(ts_str, r"\.(\d{3})$", 1).try_cast("int"), F.lit(0)
    )
    ts_norm = F.regexp_replace(
        F.regexp_replace(ts_str, r"\.(\d{3})$", ""), r"\s+", " "
    )
    ts = parse_date(ts_norm, _CISCO_TS_FORMATS)
    trip_ok = ok & msg.rlike(_CISCO_TRIPLET)
    return df.withColumns(
        {
            f"{prefix}pri": F.when(ok, pri),
            f"{prefix}host": F.when(ok, host),
            f"{prefix}cpu_module": F.when(ok, cpu),
            f"{prefix}ts": F.when(ok, ts),
            f"{prefix}msec": F.when(ok & ts.isNotNull(), msec),
            f"{prefix}msg": F.when(ok, msg),
            f"{prefix}facility": F.when(
                trip_ok, F.regexp_extract(msg, _CISCO_TRIPLET, 1)
            ),
            f"{prefix}severity": F.when(
                trip_ok, F.regexp_extract(msg, _CISCO_TRIPLET, 2)
            ).try_cast("int"),
            f"{prefix}mnemonic": F.when(
                trip_ok, F.regexp_extract(msg, _CISCO_TRIPLET, 3)
            ),
            f"{prefix}ok": trip_ok,
        }
    )


def app_parser(
    df: DataFrame,
    apps: list[tuple[str, Column, Callable[[DataFrame], DataFrame]]],
    out_col: str = "app",
) -> DataFrame:
    """lib/appmodel app-parser() analog: an ordered application table
    of (name, detection filter, parser). Detection is first-match-wins
    in declaration order (one when-chain, no shuffle); each matched
    subset runs its application's parser and the branches re-unite
    (unmatched rows pass through with app = NULL), mirroring the
    auto-parsing junction the reference generates."""
    sel = F.lit(None).cast("string")
    for name, cond, _ in reversed(apps):
        sel = F.when(cond, F.lit(name)).otherwise(sel)
    tagged = df.withColumn(out_col, sel)
    branches = [
        parse(tagged.filter(F.col(out_col) == name))
        for name, _, parse in apps
    ]
    rest = tagged.filter(F.col(out_col).isNull())
    out = rest
    for b in branches:
        out = out.unionByName(b, allowMissingColumns=True)
    return out


def fortigate_parser(
    df: DataFrame, src_col: str = "text", prefix: str = "fortigate_"
) -> DataFrame:
    """scl/fortigate fortigate-parser(): the whole message is kv pairs
    (date=.. time=.. devname=.. logid=..); stamp assembled from
    date+time, HOST taken from devname, rows without devname dropped
    (the block's filter)."""
    from axosyslog_spark.operators.kvscan import kv_pairs_to_map, kv_scan

    pairs = kv_scan(F.col(src_col), pair_separator=" ")
    kv = kv_pairs_to_map(pairs)
    get = lambda k: F.element_at(kv, k)  # noqa: E731
    out = df.withColumns(
        {
            f"{prefix}kv": kv,
            f"{prefix}ts": parse_date(
                F.concat_ws(" ", get("date"), get("time")), ("yyyy-MM-dd HH:mm:ss",)
            ),
            "host": get("devname"),
        }
    )
    return out.filter(F.col("host").isNotNull() & (F.col("host") != ""))


# scl/paloalto/panos.conf: 7 shared header columns, then a per-type
# positional schema parsed out of the greedy remainder
_PANOS_HEADER = (
    "future_use1", "receive_time", "serial", "type", "subtype",
    "future_use2", "time_generated",
)
_PANOS_FIELDS: dict[str, tuple[str, ...]] = {
    "TRAFFIC": (
        "src", "dst", "natsrc", "natdst", "rule", "srcuser", "dstuser",
        "app", "vsys", "from", "to", "inbound_if", "outbound_if", "logset",
        "future_use3", "sessionid", "repeatcnt", "sport", "dport",
        "natsport", "natdport", "flags", "proto", "action", "bytes",
        "bytes_sent", "bytes_received", "packets", "start", "sec",
        "category", "future_use4", "seqno", "actionflags", "srcloc",
        "dstloc", "future_use5", "pkts_sent", "pkts_received",
        "session_end_reason", "dg_hier_level_1", "dg_hier_level_2",
        "dg_hier_level_3", "dg_hier_level_4", "vsys_name", "device_name",
        "action_source",
    ),
    "THREAT": (
        "src", "dst", "natsrc", "natdst", "rule", "srcuser", "dstuser",
        "app", "vsys", "from", "to", "inbound_if", "outbound_if", "logset",
        "future_use3", "sessionid", "repeatcnt", "sport", "dport",
        "natsport", "natdport", "flags", "proto", "action", "misc",
        "threatid", "category", "severity", "direction", "seqno",
        "actionflags", "srcloc", "dstloc", "future_use4", "contenttype",
        "pcap_id", "filedigest", "cloud", "url_idx", "user_agent",
        "filetype", "xff", "referer", "sender", "subject", "recipient",
        "reportid", "dg_hier_level_1", "dg_hier_level_2",
        "dg_hier_level_3", "dg_hier_level_4", "vsys_name", "device_name",
    ),
    "SYSTEM": (
        "vsys", "eventid", "object", "future_use3", "future_use4",
        "module", "severity", "opaque", "seqno", "actionflags",
        "dg_hier_level_1", "dg_hier_level_2", "dg_hier_level_3",
        "dg_hier_level_4", "vsys_name", "device_name",
    ),
    "CONFIG": (
        "host", "vsys", "cmd", "admin", "client", "result", "path",
        "seqno", "actionflags", "dg_hier_level_1", "dg_hier_level_2",
        "dg_hier_level_3", "dg_hier_level_4", "vsys_name", "device_name",
    ),
}

# panos.conf CONFIG else-branch: the "custom log" layout inserts
# before/after change-detail columns; the non-custom parse is
# drop-invalid(yes), so layout selection is by exact column count
_PANOS_CONFIG_CUSTOM = (
    "host", "vsys", "cmd", "admin", "client", "result", "path",
    "before_change_detail", "after_change_detail",
    "seqno", "actionflags", "dg_hier_level_1", "dg_hier_level_2",
    "dg_hier_level_3", "dg_hier_level_4", "vsys_name", "device_name",
)


def panos_parser(
    df: DataFrame, src_col: str = "text", prefix: str = "panos_"
) -> DataFrame:
    """scl/paloalto panos-parser() documented subset (TRAFFIC / THREAT
    / SYSTEM / CONFIG): header columns as typed fields, the per-type
    positional schema into one map column (the reference emits
    open-schema NV pairs — a map is the faithful shape), ok=false for
    unknown types or rows without a device_name (the blocks'
    drop-invalid + 'device_name ne \"\"' filters)."""
    src = F.col(src_col)
    parts = F.split(src, ",")
    hdr = {n: F.try_element_at(parts, F.lit(i + 1)) for i, n in enumerate(_PANOS_HEADER)}
    typ = hdr["type"]
    pad = F.concat(parts, F.array_repeat(F.lit(""), 80))
    def _layout(names: tuple[str, ...]) -> Column:
        return F.map_from_arrays(
            F.array(*[F.lit(n) for n in names]),
            F.slice(pad, len(_PANOS_HEADER) + 1, len(names)),
        )

    fields = F.lit(None).cast("map<string,string>")
    for t, names in _PANOS_FIELDS.items():
        m = _layout(names)
        if t == "CONFIG":
            # non-custom layout only when the column count fits it
            # exactly (its parse is drop-invalid); otherwise the
            # custom layout with before/after change details
            m = F.when(
                F.size(parts) == len(_PANOS_HEADER) + len(names), m
            ).otherwise(_layout(_PANOS_CONFIG_CUSTOM))
        fields = F.when(typ == t, m).otherwise(fields)
    dev = F.element_at(fields, "device_name")
    ok = fields.isNotNull() & dev.isNotNull() & (dev != "")
    return df.withColumns(
        {
            f"{prefix}ok": ok,
            f"{prefix}type": typ,
            f"{prefix}subtype": hdr["subtype"],
            f"{prefix}serial": hdr["serial"],
            f"{prefix}time_generated": parse_date(
                hdr["time_generated"], ("yyyy/MM/dd HH:mm:ss",)
            ),
            f"{prefix}fields": F.when(ok, fields),
        }
    )


def ewmm_parser(
    df: DataFrame, src_col: str = "text", program_col: str | None = "program"
) -> DataFrame:
    """scl/ewmm ewmm-parser(): the enterprise-wide message model —
    rows whose PROGRAM is '@syslog-ng' carry a JSON payload that
    replaces the NV pairs; ``._TAGS`` inside it becomes the tags list
    and is removed (the block's tags-parser + unset)."""
    from axosyslog_spark.operators.jsonflatten import flatten_json_column

    src = F.col(src_col)
    out = df
    if program_col is not None:
        out = out.filter(F.col(program_col) == "@syslog-ng")
    flat = flatten_json_column(src)
    return (
        out.withColumn(
            "tags", F.split(F.element_at(flat, "._TAGS"), ",")
        )
        .withColumn(
            "ewmm",
            F.map_filter(flat, lambda k, _v: k != "._TAGS"),
        )
    )


# ---------------------------------------------------------------------------
# credit-card-mask (scl/rewrite/cc-mask.conf)
# ---------------------------------------------------------------------------

# card-number regexes from scl/rewrite/cc-mask.conf:52-79, each split
# into (first6)(middle)(last4) capture groups so the mask template
# "$(substr $0 0 6)******$(substr $0 -4 4)" becomes a plain
# regexp_replace "$1******$3". Applied in the block's order
# (visa, mastercard, amex, jcb, diners, discover); each subst runs on
# the previous one's output, like the chained rewrite blocks.
_CC_SPLIT_REGEXES = (
    # visa: 4 + 12 or 15 digits
    r"(4[0-9]{5})([0-9]{3}(?:[0-9]{3})?)([0-9]{4})",
    # mastercard: 51-55 / 2221-2720 prefixes, 16 digits
    r"((?:5[1-5][0-9]{2}|222[1-9]|22[3-9][0-9]|2[3-6][0-9]{2}|27[01][0-9]|2720)"
    r"[0-9]{2})([0-9]{6})([0-9]{4})",
    # american express: 34/37, 15 digits
    r"(3[47][0-9]{4})([0-9]{5})([0-9]{4})",
    # jcb: 2131/1800 + 11 (15) — the 35xxx 16-digit variant follows
    r"((?:2131|1800)[0-9]{2})([0-9]{5})([0-9]{4})",
    r"(35[0-9]{4})([0-9]{6})([0-9]{4})",
    # diners club: 300-305/36x/38x, 14 digits
    r"(3(?:0[0-5]|[68][0-9])[0-9]{3})([0-9]{4})([0-9]{4})",
    # discover: 6011/65xx, 16 digits
    r"(6(?:011|5[0-9]{2})[0-9]{2})([0-9]{6})([0-9]{4})",
)


def credit_card_mask(col: Column) -> Column:
    """credit-card-mask(): keep the first 6 (issuer id) and last 4
    digits of any card number, '******' in between — subst with
    flags(global) per card scheme (scl/rewrite/cc-mask.conf:82-90).
    Like the reference's PCRE subst, matches are positional: no word
    boundaries, so a card embedded in a longer digit run masks too."""
    for rx in _CC_SPLIT_REGEXES:
        col = F.regexp_replace(col, rx, "$1******$3")
    return col


# ---------------------------------------------------------------------------
# checkpoint-parser (scl/checkpoint/plugin.conf)
# ---------------------------------------------------------------------------


def checkpoint_app_filter(message: Column) -> Column:
    """application checkpoint[syslog-raw] filter: RFC5424-framed
    ' CheckPoint ' lines or the log_exporter splunk format."""
    return message.rlike(r"^(<[0-9]{1,3}>)1 .* CheckPoint ") | message.rlike(
        r"^time=[0-9]+\|hostname=[a-zA-Z0-9-]+\|product=Firewall"
    )


def checkpoint_parser(
    df: DataFrame, src_col: str = "text", prefix: str = ".checkpoint."
) -> DataFrame:
    """scl/checkpoint checkpoint-parser(): two wire formats.

    Syslog format (line starts with '<'): space-delimited csv with a
    greedy MSG tail and null('-') columns, tried as 7 columns with an
    ISO8601 stamp in $2, falling back to 8 columns with the stamp
    split across "$2 $3" (%Y-%m-%d %H:%M:%S); then a kv-parser with
    value-separator(':') pair-separator(';') over the message — the
    Check Point "[key:"value"; key:"value"]" section.

    Splunk (log_exporter) format: kv-parser with value-separator('|')
    pair-separator('=') exactly as plugin.conf configures it.

    Ref: scl/checkpoint/plugin.conf.
    """
    from axosyslog_spark.operators.kvscan import kv_parse

    src = F.col(src_col)
    is_syslog = src.startswith("<")
    toks = F.split(src, " ")
    t = lambda i: F.try_element_at(toks, F.lit(i))  # noqa: E731
    iso = parse_date(
        t(2),
        ("yyyy-MM-dd'T'HH:mm:ssXXX", "yyyy-MM-dd'T'HH:mm:ssXX", "yyyy-MM-dd'T'HH:mm:ss"),
    )
    two_part = parse_date(F.concat_ws(" ", t(2), t(3)), ("yyyy-MM-dd HH:mm:ss",))
    seven = iso.isNotNull()
    nn = lambda c: F.nullif(c, F.lit("-"))  # noqa: E731 (csv null('-'))
    out = df.withColumns(
        {
            f"{prefix}ok": is_syslog
            & (seven | two_part.isNotNull())
            | (~is_syslog & src.rlike(r"^time=[0-9]+\|hostname=")),
            # the splunk branch of plugin.conf runs no date-parser —
            # the stamp stays unset there, like the reference
            f"{prefix}ts": F.when(
                is_syslog, F.when(seven, iso).otherwise(two_part)
            ),
            "host": F.when(is_syslog, nn(F.when(seven, t(3)).otherwise(t(4)))),
            "program": F.when(is_syslog, nn(F.when(seven, t(4)).otherwise(t(5)))),
            "pid": F.when(is_syslog, nn(F.when(seven, t(5)).otherwise(t(6)))),
            "msgid": F.when(is_syslog, nn(F.when(seven, t(6)).otherwise(t(7)))),
            f"{prefix}msg": F.when(
                is_syslog,
                F.when(seven, F.element_at(F.split(src, " ", 7), 7)).otherwise(
                    F.element_at(F.split(src, " ", 8), 8)
                ),
            ),
        }
    )
    # the kv-parser runs over ${MESSAGE} — the csv split's greedy MSG
    # tail — NOT the whole line (plugin.conf order: csv-parser first,
    # kv-parser template("$MSG")). Scanning the raw line leaked junk
    # pairs from the header's ':' characters (e.g. a ".checkpoint.17"
    # key cut out of the timestamp).
    sysl = kv_parse(
        out, f"`{prefix}msg`", out_col="__cp_sys", value_separator=":",
        pair_separator=";", prefix=prefix,
    )
    splk = kv_parse(
        sysl, src_col, out_col="__cp_splunk", value_separator="|",
        pair_separator="=", prefix=prefix,
    )
    return splk.withColumn(
        f"{prefix}kv",
        F.when(is_syslog, F.col("__cp_sys")).otherwise(F.col("__cp_splunk")),
    ).drop("__cp_sys", "__cp_splunk")


# ---------------------------------------------------------------------------
# junos (scl/junos)
# ---------------------------------------------------------------------------


def junos_app_filter(sdata: Column) -> Column:
    """application junos[syslog]: keep messages whose
    .SDATA.junos@2636.1.1.1.2.129.reason is set and non-empty
    (scl/junos/plugin.conf — the whole adapter is this filter; the
    payload is standard RFC5424 SDATA the core parser already
    extracts)."""
    v = F.element_at(sdata, ".SDATA.junos@2636.1.1.1.2.129.reason")
    return v.isNotNull() & (v != "")


# ---------------------------------------------------------------------------
# round-5 batch: pihole, collectd, splunk-hec, mbox, default-network-drivers
# ---------------------------------------------------------------------------

# scl/pihole/pihole.conf pihole_ftl(): "[TS PID] LEVEL: MESSAGE"
_PIHOLE_RE = (
    r"^\[([^ ]+ [^ ]+) [^ \]]+\] "
    r"(?:(FATAL|ERR|ERROR|Error|WARN|WARNING|Warning|Notice|INFO|DEBUG):|) ?(.*)"
)


def pihole_ftl_parser(df: DataFrame, src_col: str = "text") -> DataFrame:
    """scl/pihole/pihole.conf pihole_ftl(): regexp-parser over the
    FTL.log line shape, date-parser('%Y-%m-%d %H:%M:%S.%f') on $1,
    PROGRAM pinned to 'Pi-hole', set-severity($2) only when $2 is
    non-empty (condition(... ne "")) — and only when the word resolves
    in the syslog-names alias table (FATAL does not; the reference's
    set-severity leaves the message unchanged then). Non-matching
    lines keep their text as MESSAGE with pihole_ok = false.

    Defaults a no-parse file source's pri 13 (facility user,
    severity notice) when the frame carries no severity/facility."""
    from axosyslog_spark.operators.rewrite import severity_by_name

    src = F.col(src_col)
    m = src.rlike(_PIHOLE_RE)

    def g(i: int) -> Column:
        return F.regexp_extract(src, _PIHOLE_RE, i)

    if "severity" not in df.columns:
        df = df.withColumn("severity", F.lit(5).cast("int"))
    if "facility" not in df.columns:
        df = df.withColumn("facility", F.lit(1).cast("int"))
    sev_word = F.when(m, F.nullif(g(2), F.lit("")))
    new_sev = F.coalesce(severity_by_name(sev_word), F.col("severity"))
    return df.withColumns(
        {
            "pihole_ok": m,
            # %f is 1-6 fraction digits; FTL writes milliseconds
            "msg_ts": F.when(m, parse_date(g(1), ("yyyy-MM-dd HH:mm:ss.SSSSSS",))),
            "program": F.lit("Pi-hole"),
            "severity": new_sev,
            "pri": (F.col("facility") * 8 + new_sev).cast("int"),
            "message": F.when(m, g(3)).otherwise(src),
        }
    )


def collectd_putval(
    host: Column,
    plugin: Column | str,
    type_: Column | str,
    unixtime: Column,
    values: Column | str = "U",
    plugin_instance: Column | str | None = None,
    type_instance: Column | str | None = None,
    interval: int | None = 60,
) -> Column:
    """scl/collectd/plugin.conf collectd() destination body: the
    PUTVAL plain-text-protocol line
    ``PUTVAL host/plugin[-inst]/type[-inst] interval=N <ts>:<values>``
    with the optional segments dropped when their value is empty
    (the block's $(if ...) template calls)."""
    as_col = lambda v: v if isinstance(v, Column) else F.lit(v)  # noqa: E731

    def seg(base: Column | str, inst: Column | str | None) -> Column:
        b = as_col(base)
        if inst is None:
            return b
        i = as_col(inst)
        return F.concat(
            b,
            F.when(
                F.coalesce(i, F.lit("")) == "", F.lit("")
            ).otherwise(F.concat(F.lit("-"), i)),
        )

    ival = (
        F.lit(f" interval={interval}") if interval is not None else F.lit("")
    )
    return F.concat(
        F.lit("PUTVAL "), host, F.lit("/"),
        seg(plugin, plugin_instance), F.lit("/"),
        seg(type_, type_instance),
        ival, F.lit(" "),
        unixtime.cast("bigint").cast("string"), F.lit(":"), as_col(values),
    )


def splunk_hec_event(
    event: Column,
    host: Column,
    ts: Column,
    index: Column | str | None = None,
    source: Column | str | None = None,
    sourcetype: Column | str | None = None,
    fields: Column | None = None,
) -> Column:
    """scl/splunk/splunk.conf splunk_hec_event(): the HEC event-API
    JSON body — $(format-json --scope none --omit-empty-values
    index= source= sourcetype= host= time= event= fields=...).
    ``time`` renders as the reference's ${S_UNIXTIME}.${S_MSEC};
    empty-string/NULL fields are omitted (--omit-empty-values);
    ``fields`` (the indexed-fields map) nests as a flat JSON object
    ($(format-flat-json)). Typed struct + to_json keeps field order
    and omits NULLs JVM-side."""
    as_col = lambda v: v if isinstance(v, Column) else F.lit(v)  # noqa: E731
    s = lambda c: F.nullif(as_col(c).cast("string"), F.lit(""))  # noqa: E731
    time_str = F.concat(
        F.unix_timestamp(ts).cast("string"), F.lit("."),
        F.date_format(ts, "SSS"),
    )
    parts: list[Column] = [
        s(index).alias("index") if index is not None
        else F.lit(None).cast("string").alias("index"),
        s(source).alias("source") if source is not None
        else F.lit(None).cast("string").alias("source"),
        s(sourcetype).alias("sourcetype") if sourcetype is not None
        else F.lit(None).cast("string").alias("sourcetype"),
        s(host).alias("host"),
        time_str.alias("time"),
        event.cast("string").alias("event"),
    ]
    if fields is not None:
        parts.append(fields.alias("fields"))
    return F.to_json(F.struct(*parts), {"ignoreNullFields": "true"})


def mbox_source(
    df: DataFrame,
    key: str = "conv_id",
    order: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """scl/mbox/mbox.conf mbox(): a file source whose only semantic is
    framing — multi-line-mode(prefix-suffix) with
    multi-line-prefix('^From ') joins every mail (the 'From ' mbox
    separator line plus its continuation lines) into ONE message; no
    field parsing happens in the block (flags(no-parse))."""
    from axosyslog_spark.operators import multiline

    return multiline.regexp_prefix(
        df, r"^From ", key=key, order=order, text_col=text_col
    )


def default_network_drivers(
    df: DataFrame,
    text_col: str = "text",
    raw_apps: list[tuple[str, Column, Callable[[DataFrame], DataFrame]]]
    | None = None,
    syslog_apps: list[tuple[str, Column, Callable[[DataFrame], DataFrame]]]
    | None = None,
    year: int | None = 2024,
) -> DataFrame:
    """scl/default-network-drivers/plugin.conf — the flagship
    "just parse my syslog" composition (first channel, the tcp/udp 514
    path, which is the batch-meaningful one; the 601/6514 channel is
    the same graph minus the raw-topic branch):

      1. app-parser(topic(syslog-raw)): ordered application table over
         the RAW line; a match short-circuits everything else
         (path='raw-app').
      2. otherwise syslog-parser: RFC5424 when the line leads with
         '<PRI>VERSION ', else the RFC3164/BSD branch (which itself
         passes unparseable lines through as the body, the reference's
         empty else {} branch; path='syslog').
      3. on the parsed rows: ewmm-parser() when PROGRAM is
         '@syslog-ng' (path='ewmm'), elif app-parser(topic(syslog))
         over the parsed header (path='app').

    Defaults wire in the adapters this module ships for each topic:
    checkpoint (syslog-raw), sudo + iptables (syslog). Branches
    re-unite with unionByName(allowMissingColumns) — the CoW fan-out
    analog; `app` carries the matched application, `path` the branch.
    """
    from axosyslog_spark.operators.parse import parse_header, parse_rfc3164

    text = F.col(text_col)
    if raw_apps is None:
        raw_apps = [
            ("checkpoint", checkpoint_app_filter(text), checkpoint_parser)
        ]

    sel = F.lit(None).cast("string")
    for name, cond, _ in reversed(raw_apps):
        sel = F.when(cond, F.lit(name)).otherwise(sel)
    tagged = df.withColumn("app", sel)
    branches: list[DataFrame] = [
        parser(tagged.filter(F.col("app") == name)).withColumn(
            "path", F.lit("raw-app")
        )
        for name, _, parser in raw_apps
    ]

    rest = tagged.filter(F.col("app").isNull())
    lead5424 = text.rlike(r"^<[0-9]{1,3}>[0-9] ")
    p5 = parse_header(rest.filter(lead5424), text_col)
    p3 = parse_rfc3164(rest.filter(~lead5424), text_col, year=year)
    parsed = p5.unionByName(p3, allowMissingColumns=True)

    if syslog_apps is None:
        syslog_apps = [
            (
                "sudo",
                F.col("appname") == "sudo",
                lambda d: sudo_parser(d, src_col="body"),
            ),
            (
                "iptables",
                iptables_app_filter(
                    F.col("facility"), F.col("appname"), F.col("body")
                ),
                lambda d: iptables_parser(d, src_col="body"),
            ),
        ]

    is_ewmm = F.col("appname") == "@syslog-ng"
    branches.append(
        ewmm_parser(
            parsed.filter(is_ewmm), src_col="body", program_col=None
        ).withColumn("path", F.lit("ewmm"))
    )
    after_ewmm = parsed.filter(
        ~F.coalesce(is_ewmm, F.lit(False))
    )
    sel2 = F.lit(None).cast("string")
    for name, cond, _ in reversed(syslog_apps):
        sel2 = F.when(cond, F.lit(name)).otherwise(sel2)
    tagged2 = after_ewmm.withColumn("app", sel2)
    for name, _, parser in syslog_apps:
        branches.append(
            parser(tagged2.filter(F.col("app") == name)).withColumn(
                "path", F.lit("app")
            )
        )
    branches.append(
        tagged2.filter(F.col("app").isNull()).withColumn(
            "path", F.lit("syslog")
        )
    )

    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b, allowMissingColumns=True)
    return out


# ---------------------------------------------------------------------------
# scl/solaris/plugin.conf — extract-solaris-msgid()
# ---------------------------------------------------------------------------

_SOLARIS_MSGID_RE = r"^\[([^\]]*)\] (.*)"


def solaris_msgid_parser(df: DataFrame, src_col: str = "message") -> DataFrame:
    """scl/solaris/plugin.conf extract-solaris-msgid(): when MESSAGE
    leads with '[ID' (prefix filter), the bracket group is csv-split
    off with quote-pairs('[]') (column 0, unquoted) and MESSAGE keeps
    the greedy rest; the msgid is the bracket group's second
    space-token ('[ID 800047 auth.info]' -> '800047'). Non-matching
    rows pass through untouched (the reference's channel is an if{}
    with no else)."""
    src = F.col(src_col)
    m = src.startswith("[ID ") & src.rlike(_SOLARIS_MSGID_RE)
    bracket = F.regexp_extract(src, _SOLARIS_MSGID_RE, 1)
    return df.withColumns(
        {
            "solaris_msgid": F.when(
                m, F.element_at(F.split(bracket, " "), 2)
            ),
            src_col: F.when(
                m, F.regexp_extract(src, _SOLARIS_MSGID_RE, 2)
            ).otherwise(src),
        }
    )


# ---------------------------------------------------------------------------
# scl/arr/arr.conf — the *arr application family's internal log format
# ---------------------------------------------------------------------------

_ARR_RE = r"^([^|]*)\|([^|]*)\|([^|]*)\|((?:.|\n)*)"


def arr_parser(
    df: DataFrame,
    program: str,
    src_col: str = "text",
    prefix: str = "arr_",
) -> DataFrame:
    """scl/arr/arr.conf arr_internal(): 'TS|Severity|Module|MESSAGE'
    pipe-split via regexp-parser, date-parser '%Y-%m-%d %H:%M:%S.%f'
    on $1, PROGRAM pinned per application block (Radarr/Sonarr/...),
    set-severity($2) — which resolves only words the syslog-names
    table knows (Info/Warn/Error/Debug do, Fatal/Trace do not; the
    reference leaves severity unchanged then), and `prefix`module
    from $3. Rows not matching the shape pass through with
    arr_ok=false (the file source's multi-line-prefix guarantees the
    shape in the reference; a batch table can carry strays)."""
    from axosyslog_spark.operators.rewrite import severity_by_name

    src = F.col(src_col)
    m = src.rlike(_ARR_RE) & (src.contains("|"))

    def g(i: int) -> Column:
        return F.regexp_extract(src, _ARR_RE, i)

    if "severity" not in df.columns:
        df = df.withColumn("severity", F.lit(5).cast("int"))
    if "facility" not in df.columns:
        df = df.withColumn("facility", F.lit(1).cast("int"))
    new_sev = F.coalesce(
        severity_by_name(F.when(m, g(2))), F.col("severity")
    ).cast("int")
    return df.withColumns(
        {
            "arr_ok": m,
            # .NET writes 1-7 fraction digits (Spark keeps 6)
            "msg_ts": F.when(m, parse_date(g(1), ("yyyy-MM-dd HH:mm:ss.SSSSSSS",))),
            "program": F.lit(program),
            "severity": new_sev,
            "pri": (F.col("facility") * 8 + new_sev).cast("int"),
            f"{prefix}module": F.when(m, g(3)),
            "message": F.when(m, g(4)).otherwise(src),
        }
    )


# ---------------------------------------------------------------------------
# scl/jellyfin/jellyfin.conf
# ---------------------------------------------------------------------------

_JELLYFIN_RE = r"^\[([^\]]*)\] \[([A-Z]{3})\] \[[0-9]+\] ((?:.|\n)*)"


def jellyfin_parser(df: DataFrame, src_col: str = "text") -> DataFrame:
    """scl/jellyfin/jellyfin.conf jellyfin(): regexp-parser over the
    Serilog line '[TS] [LVL] [THREAD] MESSAGE' (the reference disables
    its PCRE JIT for this pattern — Spark's regex has no such limit),
    date-parser '%Y-%m-%d %H:%M:%S.%f %z' on $1, PROGRAM='Jellyfin',
    set-severity($2): of Serilog's VRB/DBG/INF/WRN/ERR/FTL only ERR
    resolves in the syslog-names table (the reference's set-severity
    keeps the old severity for the rest — faithful, if surprising)."""
    from axosyslog_spark.operators.rewrite import severity_by_name

    src = F.col(src_col)
    m = src.rlike(_JELLYFIN_RE)

    def g(i: int) -> Column:
        return F.regexp_extract(src, _JELLYFIN_RE, i)

    if "severity" not in df.columns:
        df = df.withColumn("severity", F.lit(5).cast("int"))
    if "facility" not in df.columns:
        df = df.withColumn("facility", F.lit(1).cast("int"))
    new_sev = F.coalesce(
        severity_by_name(F.when(m, g(2))), F.col("severity")
    ).cast("int")
    return df.withColumns(
        {
            "jellyfin_ok": m,
            # 1-6 fraction digits with a '+02:00' offset; the '+0200'
            # offset form is accepted with millis only
            "msg_ts": F.when(
                m,
                parse_date(
                    g(1),
                    ("yyyy-MM-dd HH:mm:ss.SSSSSS XXX", "yyyy-MM-dd HH:mm:ss.SSS XX"),
                ),
            ),
            "program": F.lit("Jellyfin"),
            "severity": new_sev,
            "pri": (F.col("facility") * 8 + new_sev).cast("int"),
            "message": F.when(m, g(3)).otherwise(src),
        }
    )


# ---------------------------------------------------------------------------
# scl/qbittorrent/qbittorrent.conf
# ---------------------------------------------------------------------------

_QBIT_RE = r"^\((.)\) ([^ ]+) - (.*)"


def qbittorrent_parser(df: DataFrame, src_col: str = "text") -> DataFrame:
    """scl/qbittorrent/qbittorrent.conf qbittorrent(): regexp-parser
    '(L) TS - MESSAGE', date-parser '%Y-%m-%dT%H:%M:%S' on $2,
    PROGRAM='qBittorrent', and the if/elif severity ladder over $1:
    C->critical, W->warning, I->info, N->notice (any other letter
    keeps the previous severity)."""
    src = F.col(src_col)
    m = src.rlike(_QBIT_RE)

    def g(i: int) -> Column:
        return F.regexp_extract(src, _QBIT_RE, i)

    if "severity" not in df.columns:
        df = df.withColumn("severity", F.lit(5).cast("int"))
    if "facility" not in df.columns:
        df = df.withColumn("facility", F.lit(1).cast("int"))
    lvl = F.when(m, g(1))
    new_sev = (
        F.when(lvl == "C", F.lit(2))
        .when(lvl == "W", F.lit(4))
        .when(lvl == "I", F.lit(6))
        .when(lvl == "N", F.lit(5))
        .otherwise(F.col("severity"))
        .cast("int")
    )
    return df.withColumns(
        {
            "qbittorrent_ok": m,
            "msg_ts": F.when(m, parse_date(g(2), ("yyyy-MM-dd'T'HH:mm:ss",))),
            "program": F.lit("qBittorrent"),
            "severity": new_sev,
            "pri": (F.col("facility") * 8 + new_sev).cast("int"),
            "message": F.when(m, g(3)).otherwise(src),
        }
    )


# ---------------------------------------------------------------------------
# scl/nodejs/plugin.conf — winston syslog transport
# ---------------------------------------------------------------------------


def nodejs_winston_parser(
    df: DataFrame, src_col: str = "text", prefix: str = "nodejs_winston_"
) -> DataFrame:
    """scl/nodejs/plugin.conf nodejs(): winston's syslog transport
    ships a JSON ARRAY line whose element [1] is the log object;
    json-parser(extract-prefix('[1]') prefix('.nodejs.winston.'))
    flattens that object, then the block promotes
    ${.nodejs.winston.message} to MESSAGE and unsets the map entry.
    Here: extract element 1, flatten to `nodejs_winston` map with
    dotted keys under `prefix`, promote map['message'] to the message
    column and remove it from the map."""
    from axosyslog_spark.operators.jsonflatten import json_flatten

    extracted = "__njs_extracted"
    df = df.withColumn(
        extracted, F.get_json_object(F.col(src_col), "$[1]")
    )
    df = json_flatten(
        df, src_col=extracted, out_col="nodejs_winston", prefix=prefix
    )
    msg_key = f"{prefix}message"
    mp = F.col("nodejs_winston")
    return (
        df.withColumns(
            {
                "message": F.coalesce(
                    F.element_at(mp, msg_key), F.col(src_col)
                ),
                "nodejs_winston": F.when(
                    mp.isNotNull(),
                    F.map_filter(mp, lambda k, _: k != msg_key),
                ),
            }
        )
        .withColumnRenamed("nodejs_winston_ok", "nodejs_ok")
        .drop(extracted)
    )


# ---------------------------------------------------------------------------
# scl/loggly + scl/logmatic + scl/sumologic — wire-line destination
# templates (the network/tls transport itself is N/A-batch; the LINE
# each block renders is the batch-meaningful artifact)
# ---------------------------------------------------------------------------


def _syslog5424_prefix(
    pri: Column,
    ts: Column,
    host: Column,
    program: Column,
    pid: Column | None,
    msgid: Column | None,
    dash_fallback: bool,
) -> Column:
    """``<PRI>1 ISODATE HOST PROGRAM PID MSGID`` — shared header of the
    hosted-logging destination templates. ``dash_fallback`` renders
    absent values as '-' (the blocks written as ${X:--}); without it a
    bare macro renders empty, faithfully producing the double-space the
    reference would emit."""
    absent = F.lit("-") if dash_fallback else F.lit("")

    def v(c: Column | None) -> Column:
        if c is None:
            return absent
        return F.coalesce(c.cast("string"), absent)

    from axosyslog_spark.functions.templates import macro

    return F.concat(
        F.lit("<"), F.coalesce(pri.cast("string"), F.lit("13")), F.lit(">1 "),
        macro("ISODATE", ts), F.lit(" "),
        v(host), F.lit(" "), v(program), F.lit(" "), v(pid), F.lit(" "),
        v(msgid),
    )


def loggly_line(
    token: str,
    tag: str,
    payload: Column,
    pri: Column,
    ts: Column,
    host: Column,
    program: Column,
    pid: Column | None = None,
    msgid: Column | None = None,
) -> Column:
    """scl/loggly/loggly.conf loggly() wire line:
    ``<PRI>1 ISODATE HOST PROGRAM PID MSGID [token@41058 tag="tag"]
    payload`` (the customer token rides an SD-ELEMENT with Loggly's
    IANA enterprise number 41058; bare macros, no '-' fallbacks).
    Transport framing (trailing newline, tcp) is the sink's concern."""
    return F.concat(
        _syslog5424_prefix(pri, ts, host, program, pid, msgid, False),
        F.lit(f' [{token}@41058 tag="{tag}"] '), payload.cast("string"),
    )


def logmatic_line(
    token: str,
    payload: Column,
    pri: Column,
    ts: Column,
    host: Column,
    program: Column,
    pid: Column | None = None,
    msgid: Column | None = None,
    sdata: Column | None = None,
) -> Column:
    """scl/logmatic/logmatic.conf logmatic() wire line: the raw API
    token PREFIXES the frame — ``token <PRI>1 ISODATE HOST:-- ...
    SDATA:-- payload`` (all header macros carry '-' fallbacks)."""
    sd = F.coalesce(sdata.cast("string"), F.lit("-")) if sdata is not None \
        else F.lit("-")
    return F.concat(
        F.lit(f"{token} "),
        _syslog5424_prefix(pri, ts, host, program, pid, msgid, True),
        F.lit(" "), sd, F.lit(" "), payload.cast("string"),
    )


def sumologic_syslog_line(
    token: str,
    tag: str,
    payload: Column,
    pri: Column,
    ts: Column,
    host: Column,
    program: Column,
    pid: Column | None = None,
    msgid: Column | None = None,
) -> Column:
    """scl/sumologic/sumologic.conf sumologic-syslog() wire line:
    ``<PRI>1 ISODATE HOST PROGRAM:-- PID:-- MSGID:-- [token
    tag="tag"] payload`` — like loggly but the collector token is the
    SD-ID itself (no enterprise number) and PROGRAM/PID/MSGID carry
    '-' fallbacks while HOST does not."""
    from axosyslog_spark.functions.templates import macro

    dash = lambda c: F.coalesce(c.cast("string"), F.lit("-")) if c is not None else F.lit("-")  # noqa: E731
    return F.concat(
        F.lit("<"), F.coalesce(pri.cast("string"), F.lit("13")), F.lit(">1 "),
        macro("ISODATE", ts), F.lit(" "),
        F.coalesce(host.cast("string"), F.lit("")), F.lit(" "),
        dash(program), F.lit(" "), dash(pid), F.lit(" "), dash(msgid),
        F.lit(f' [{token} tag="{tag}"] '), payload.cast("string"),
    )


def sumologic_http_body(nv_pairs: Column) -> Column:
    """scl/sumologic/sumologic.conf sumologic-http() POST body:
    $(format-json --scope all-nv-pairs --exclude SOURCE) over the
    message's name-value map — here a map<string,string> column with
    the SOURCE key excluded, rendered as one JSON object (keys sorted
    for determinism, matching value-pairs' sorted iteration)."""
    filtered = F.map_filter(nv_pairs, lambda k, _: k != "SOURCE")
    return F.to_json(
        F.map_from_entries(F.array_sort(F.map_entries(filtered)))
    )


# ---------------------------------------------------------------------------
# scl/darwinosl/plugin.conf — darwin-oslog-stream() (`log stream
# --style ndjson` parsing channel; the darwinosl() native source is a
# platform transport, N/A-batch)
# ---------------------------------------------------------------------------

# darwinosl-metadata-db.csv: messageType -> unix severity
_DARWIN_UNIXPRI = {
    "Fault": 2, "Error": 3, "Notice": 5, "Info": 6, "Debug": 7,
}
_DARWIN_UNIXPRI_DEFAULT = 5  # the csv's 'unknown' default-selector row


def darwin_oslog_stream_parser(
    df: DataFrame, src_col: str = "text", prefix: str = "darwinoslog_"
) -> DataFrame:
    """scl/darwinosl/plugin.conf darwin-oslog-stream(): each ndjson
    line from `log stream` is json-parsed under `prefix`, the
    timestamp date-parsed ('%Y-%m-%d %T.%f%z' — Apple writes
    '+0200'-style offsets), messageType enriched to a unix severity
    through darwinosl-metadata-db.csv (default-selector 'unknown' ->
    5), then the rewrite block: PROGRAM = basename(processImagePath)
    when non-empty with spaces substituted to the literal '\\0x20'
    (the block's subst), set-pri(unixpri), PID = processID, MSG =
    activityIdentifier + optional ' (subsystem)' + optional
    ' [category]' + ' ' + eventMessage, TRANSPORT pinned."""
    from axosyslog_spark.operators.jsonflatten import json_flatten

    df = json_flatten(df, src_col=src_col, out_col="darwinoslog",
                      prefix=prefix)
    mp = F.col("darwinoslog")

    def fld(name: str) -> Column:
        return F.element_at(mp, prefix + name)

    sev_map = F.create_map(
        *[F.lit(x) for k, v in _DARWIN_UNIXPRI.items() for x in (k, v)]
    )
    unixpri = F.coalesce(
        F.element_at(sev_map, fld("messageType")).cast("int"),
        F.lit(_DARWIN_UNIXPRI_DEFAULT),
    )
    img = F.coalesce(fld("processImagePath"), F.lit(""))
    base = F.element_at(F.split(img, "/"), -1)
    program = F.when(
        F.trim(img) != "", F.replace(base, F.lit(" "), F.lit("\\0x20"))
    ).otherwise(F.lit(""))
    subsystem = F.coalesce(fld("subsystem"), F.lit(""))
    category = F.coalesce(fld("category"), F.lit(""))
    msg = F.concat(
        F.coalesce(fld("activityIdentifier"), F.lit("")),
        F.when(subsystem != "", F.concat(F.lit(" ("), subsystem, F.lit(")")))
        .otherwise(F.lit("")),
        F.when(category != "", F.concat(F.lit(" ["), category, F.lit("]")))
        .otherwise(F.lit("")),
        F.lit(" "),
        F.coalesce(fld("eventMessage"), F.lit("")),
    )
    return df.withColumns(
        {
            "darwin_ok": mp.isNotNull(),
            "msg_ts": parse_date(
                fld("timestamp"), ("yyyy-MM-dd HH:mm:ss[.SSSSSS]XX",)
            ),
            "program": F.when(mp.isNotNull(), program),
            "procid": F.when(mp.isNotNull(), fld("processID")),
            # set-pri(unixpri): pri taken verbatim, severity/facility
            # re-derived (rewrite-set-pri.c)
            "pri": F.when(mp.isNotNull(), unixpri),
            "severity": F.when(mp.isNotNull(), (unixpri % 8).cast("int")),
            "facility": F.when(
                mp.isNotNull(), F.floor(unixpri / 8).cast("int")
            ),
            "message": F.when(mp.isNotNull(), msg).otherwise(F.col(src_col)),
            "transport": F.lit("local+darwinoslog_stream"),
        }
    )


# ---------------------------------------------------------------------------
# scl/elasticsearch/elastic-datastream.conf + scl/slack/slack.conf —
# HTTP destination bodies (transport is N/A-batch; the body each
# renders is the artifact)
# ---------------------------------------------------------------------------


def elasticsearch_datastream_body(
    ts: Column,
    host: Column,
    program: Column,
    pid: Column | None,
    message: Column,
    extra: dict[str, Column] | None = None,
) -> Column:
    """scl/elasticsearch/elastic-datastream.conf body: the _bulk
    ndjson pair ``{"create":{ }}\\n`` + $(format-json --scope rfc5424
    --exclude DATE --key ISODATE @timestamp=${ISODATE}) — the RFC5424
    nv-pairs with DATE swapped for an ISO @timestamp. NULL fields are
    omitted like --omit-empty under format-json's defaults for unset
    names; the batch body_suffix newline is the sink's concern."""
    from axosyslog_spark.functions.templates import macro

    parts: list[Column] = [
        macro("ISODATE", ts).alias("@timestamp"),
        F.nullif(F.coalesce(host.cast("string"), F.lit("")), F.lit(""))
        .alias("HOST"),
        F.nullif(F.coalesce(program.cast("string"), F.lit("")), F.lit(""))
        .alias("PROGRAM"),
        (F.nullif(F.coalesce(pid.cast("string"), F.lit("")), F.lit(""))
         if pid is not None else F.lit(None).cast("string")).alias("PID"),
        message.cast("string").alias("MESSAGE"),
    ]
    if extra:
        parts.extend(c.cast("string").alias(k) for k, c in extra.items())
    return F.concat(
        F.lit('{"create":{ }}\n'),
        F.to_json(F.struct(*parts), {"ignoreNullFields": "true"}),
    )


# slack() default color ladder, one per severity 0..7 (slack.conf
# colors() + color-chooser('${LEVEL_NUM}'))
_SLACK_COLORS = (
    "#512E5F", "#B03A2E", "#E74C3C", "#F39C12",
    "#F8C471", "#7DCEA0", "#5DADE2", "#85929E",
)


def slack_attachment_body(
    message: Column,
    host: Column,
    program: Column,
    pid: Column,
    severity: Column,
    ts: Column,
    colors: tuple[str, ...] = _SLACK_COLORS,
) -> Column:
    """scl/slack/slack.conf slack() attachment JSON: the block's
    $(format-json) body with the defaults filled in — fallback and
    author_name both render 'MSG - host: H | program: P(PID) |
    severity: SEV', color indexes the 8-entry ladder with
    $(list-nth ${LEVEL_NUM}), text is ${MSG}, ts is ${UNIXTIME};
    the empty-default fields (pretext/title/...) are omitted, which
    is what format-json does with empty values under --cast. The
    surrounding '{"attachments":[' body-prefix / ']}' suffix and
    the webhook POST are the sink's concern."""
    from axosyslog_spark.functions.templates import macro

    sev_name = macro("PRIORITY", severity=severity.cast("int"))
    byline = F.concat(
        F.lit("host: "), F.coalesce(host.cast("string"), F.lit("")),
        F.lit(" | program: "), F.coalesce(program.cast("string"), F.lit("")),
        F.lit("("), F.coalesce(pid.cast("string"), F.lit("")), F.lit(")"),
        F.lit(" | severity: "), sev_name,
    )
    color = F.element_at(
        F.array(*[F.lit(c) for c in colors]), (severity.cast("int") % 8) + 1
    )
    return F.to_json(
        F.struct(
            F.concat(message.cast("string"), F.lit(" - "), byline)
            .alias("fallback"),
            color.alias("color"),
            byline.alias("author_name"),
            message.cast("string").alias("text"),
            F.unix_timestamp(ts).cast("string").alias("ts"),
        ),
        {"ignoreNullFields": "true"},
    )


def discord_body(
    message: Column,
    max_msg_length: int = 2000,
    username: str = "",
    avatar_url: str = "",
    tts: bool = False,
) -> Column:
    """scl/discord/discord.conf discord() webhook body: format-json
    over content (the template truncated to max-msg-length, default
    '[empty message]' fallback applied by the caller's template),
    username / avatar_url omitted when empty, tts as a JSON bool."""
    parts = [
        F.substring(message.cast("string"), 1, max_msg_length)
        .alias("content"),
        (F.lit(username) if username else F.lit(None).cast("string"))
        .alias("username"),
        (F.lit(avatar_url) if avatar_url else F.lit(None).cast("string"))
        .alias("avatar_url"),
        F.lit(tts).alias("tts"),
    ]
    return F.to_json(F.struct(*parts), {"ignoreNullFields": "true"})


def telegram_body(
    message: Column,
    chat_id: str,
    parse_mode: str = "none",
    disable_web_page_preview: bool = True,
    disable_notification: bool = False,
    max_size: int = 4096,
) -> Column:
    """scl/telegram/telegram.conf telegram() sendMessage body: the
    urlencoded form string with text=$(url-encode $(substr template
    0 max-size)) — the bot-id rides the URL, not the body."""
    prefix = (
        f"disable_web_page_preview={str(disable_web_page_preview).lower()}"
        f"&disable_notification={str(disable_notification).lower()}"
        f"&parse_mode={parse_mode}&chat_id={chat_id}&&text="
    )
    return F.concat(
        F.lit(prefix),
        F.url_encode(F.substring(message.cast("string"), 1, max_size)),
    )


def logscale_event_body(
    rawstring: Column,
    ts: Column,
    host: Column | None = None,
    program: Column | None = None,
    pid: Column | None = None,
    timezone: str = "",
) -> Column:
    """scl/logscale/logscale.conf logscale() humio-structured event:
    format-json with rawstring=${MESSAGE}, timestamp=${S_ISODATE},
    optional timezone, and attributes = the rfc5424 scope minus
    MESSAGE/DATE (--omit-empty-values drops unset names). The
    '[{"events":[' framing and bearer-token POST are the sink's."""
    from axosyslog_spark.functions.templates import macro

    def s(c: Column | None) -> Column:
        if c is None:
            return F.lit(None).cast("string")
        return F.nullif(c.cast("string"), F.lit(""))

    attrs = F.struct(
        s(host).alias("HOST"), s(program).alias("PROGRAM"),
        s(pid).alias("PID"),
    )
    return F.to_json(
        F.struct(
            rawstring.cast("string").alias("rawstring"),
            macro("ISODATE", ts).alias("timestamp"),
            (F.lit(timezone) if timezone else F.lit(None).cast("string"))
            .alias("timezone"),
            attrs.alias("attributes"),
        ),
        {"ignoreNullFields": "true"},
    )


# ---------------------------------------------------------------------------
# round-5c batch: mariadb audit, postgresql csvlog, google-pubsub,
# azure-monitor
# ---------------------------------------------------------------------------

_MARIADB_COLUMNS = (
    "serverhost", "username", "host", "connectionid", "queryid",
    "operation", "database", "object", "retcode",
)

# scl/mariadb/audit.conf second parser: split the stray syslog_info
# word the csv stage swallowed into `prefix`serverhost
_MARIADB_INFO_RE = r"^\s*(\S*?)(?: )?(\S+)$"


def mariadb_audit_parser(
    df: DataFrame, src_col: str = "message", prefix: str = ".mariadb."
) -> DataFrame:
    """scl/mariadb/audit.conf mariadb-audit-parser(): csv-parser over
    $MESSAGE with delimiters(','), quote-pairs("''"),
    flags(greedy, drop-invalid, escape-backslash) into the nine audit
    columns, then the regexp-parser pass that re-splits the first
    column (the syslog_info stray word + serverhost pair, e.g.
    'columnstore-1 eff8a68bcd7f') into `prefix`syslog_info and the
    real `prefix`serverhost.

    The audit plugin's quoted fields ('SELECT ... WHERE 0=1') carry
    backslash-escaped quotes (\\') — from_csv's backslash escape
    dialect matches the scanner's escape-backslash flag. drop-invalid
    surfaces as ``mariadb_ok``: the scanner drops on SHORT COLUMN
    COUNT only (empty fields are legal — CONNECT rows carry empty
    database/object), so ok keys on the LAST column being present
    (a short row nulls out the tail), not on every field non-null."""
    from axosyslog_spark.operators.csvparse import CsvColumn, CsvSpec, csv_parse

    spec = CsvSpec(
        columns=tuple(CsvColumn(c) for c in _MARIADB_COLUMNS),
        delimiter=",",
        quote="'",
        prefix=prefix,
        drop_invalid=False,
    )
    df = (
        csv_parse(df, spec, src_col=src_col)
        .drop("csv_ok")
        .withColumn(
            "mariadb_ok", F.col(f"`{prefix}{_MARIADB_COLUMNS[-1]}`").isNotNull()
        )
    )
    raw = F.col(f"`{prefix}serverhost`")
    return (
        df.withColumn(
            f"{prefix}syslog_info", F.regexp_extract(raw, _MARIADB_INFO_RE, 1)
        )
        .withColumn(
            f"{prefix}serverhost", F.regexp_extract(raw, _MARIADB_INFO_RE, 2)
        )
    )


# scl/pgsql/pgsql.conf postgresql-csvlog-parser() column list
# (csvlog format, postgresql runtime-config-logging); int() hints
# become casts, on-type-error(drop-property) == cast-to-NULL.
_PGSQL_COLUMNS: tuple[tuple[str, str | None], ...] = (
    ("timestamp", None), ("username", None), ("database", None),
    ("pid", "int"), ("connection_from", None), ("session_id", None),
    ("session_line_num", "int"), ("command_tag", None),
    ("session_start_time", None), ("virtual_transaction_id", None),
    ("transaction_id", "int"), ("severity", None),
    ("sql_state_code", None), ("message", None), ("detail", None),
    ("hint", None), ("internal_query", None),
    ("internal_query_pos", "int"), ("context", None), ("query", None),
    ("query_pos", "int"), ("location", None), ("application_name", None),
    ("backend_type", None), ("leader_pid", "int"), ("query_id", "int"),
)


def postgresql_csvlog_parser(
    df: DataFrame,
    src_col: str = "text",
    prefix: str = ".pgsql.",
    host_from_col: str | None = None,
) -> DataFrame:
    """scl/pgsql/pgsql.conf postgresql-csvlog-parser(): the 26-column
    csvlog csv-parser (quote-pairs('\"\"'), dialect escape-double-char,
    flags(strip-whitespace), int() hints -> cast, on-type-error
    drop-property -> NULL), then the conf's channel tail:

      - date-parser('%Y-%m-%d %H:%M:%S.%f') over
        $(substr ${.pgsql.timestamp} 0 23) -> ``ts`` (the conf strips
        the non-standard zone suffix)
      - PID = int(pid); MESSAGE = ${.pgsql.message};
        connection_from defaulted to $HOST_FROM when empty
      - the shifted severity ladder: a severity starting with DEBUG
        maps to debug(7); otherwise resolve the name via the
        syslog-names alias table (PANIC->0, ERROR->3, WARNING->4,
        LOG/FATAL don't resolve -> severity unchanged), then
        +1 when SEVERITY_NUM==0 and +1 again when SEVERITY_NUM<=4 —
        so PANIC lands on crit(2), ERROR on warning(4), WARNING on
        notice(5), matching the conf's comment block."""
    from axosyslog_spark.operators.csvparse import CsvColumn, CsvSpec, csv_parse
    from axosyslog_spark.operators.rewrite import severity_by_name

    spec = CsvSpec(
        columns=tuple(CsvColumn(n, cast) for n, cast in _PGSQL_COLUMNS),
        delimiter=",",
        quote='"',
        escape='"',
        strip=True,
        # the trailing columns are version-gated (13+/14+); a 24-column
        # v12 line must still parse -> only the always-present core is
        # required (drop-invalid on the non-gated prefix is approximated
        # by requiring the message column)
        drop_invalid=False,
        prefix=prefix,
    )
    df = csv_parse(df, spec, src_col=src_col).withColumnRenamed(
        "csv_ok", "pgsql_ok"
    )
    df = df.withColumn(
        "pgsql_ok", F.col(f"`{prefix}message`").isNotNull()
    )
    ts = parse_date(
        F.substring(F.col(f"`{prefix}timestamp`"), 1, 23),
        ("yyyy-MM-dd HH:mm:ss.SSS",),
    )
    df = (
        df.withColumn("ts", ts)
        .withColumn("pid", F.col(f"`{prefix}pid`"))
        .withColumn("message", F.col(f"`{prefix}message`"))
    )
    if host_from_col is not None:
        df = df.withColumn(
            f"{prefix}connection_from",
            F.when(
                F.coalesce(F.col(f"`{prefix}connection_from`"), F.lit(""))
                != "",
                F.col(f"`{prefix}connection_from`"),
            ).otherwise(F.col(host_from_col)),
        )
    sev_name = F.col(f"`{prefix}severity`")
    base = F.col("severity") if "severity" in df.columns else F.lit(5)
    resolved = F.coalesce(severity_by_name(sev_name), base.cast("int"))
    shifted1 = F.when(resolved == 0, resolved + 1).otherwise(resolved)
    shifted = F.when(shifted1 <= 4, shifted1 + 1).otherwise(shifted1)
    sev = F.when(
        F.upper(sev_name).startswith("DEBUG"), F.lit(7)
    ).otherwise(shifted)
    return df.withColumn("severity", sev.cast("int"))


def google_pubsub_event(data: Column, attributes: Column) -> Column:
    """scl/google/google-pubsub.conf body: one publish message —
    $(format-json --omit-empty-values data=$(base64-encode `data`)
    attributes=literal($(format-flat-json `attributes`))). ``data``
    is base64-wrapped; ``attributes`` is a map column rendered as a
    FLAT json object embedded verbatim (literal())."""
    from axosyslog_spark.functions.templates import tf_base64_encode

    # format-flat-json over a map: flat keys, reverse-lex entry order
    # (tf_flat_value_pairs_sort's strcmp(s2, s1)); to_json preserves
    # map entry order, so sort-then-rebuild renders it directly
    attrs_json = F.to_json(
        F.map_from_entries(F.reverse(F.array_sort(F.map_entries(attributes))))
    )
    # '{"data":"<b64>"}' spliced with the literal() attributes object
    head = F.to_json(F.struct(tf_base64_encode(data).alias("data")))
    return F.concat(
        F.substr(head, F.lit(1), F.length(head) - 1),
        F.lit(',"attributes":'),
        attrs_json,
        F.lit("}"),
    )


def azure_monitor_body(events: Column) -> Column:
    """scl/azure/azure-monitor.conf azure_monitor(): the DCR ingestion
    POST body — body_prefix('[') + per-message body(`template`) joined
    by delimiter(',') + body_suffix(']'). The url/auth plumbing
    (dce_uri/dcr_id/stream_name, cloud-auth) is transport, N/A-batch;
    stream_name selection maps to the batch key of the groupBy that
    produced ``events``."""
    return F.concat(F.lit("["), F.array_join(events, ","), F.lit("]"))
