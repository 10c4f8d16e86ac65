"""pdbtool analog: PatternDB XML ruleset tooling from the CLI.

Reference: the pdbtool utility (modules/correlation/pdbtool.c). Verbs
here: test (replay <examples>), match (classify one message), dump
(compiled pattern/dispatch structure), patternize (SLCT discovery),
merge (combine a directory of pdb files into one v6 ruleset),
dictionary (dump emit-able value names / tags). test/match run on a
tiny local SparkSession; the rest are plan-time only:

    python tools/pdbtool.py test  --ruleset axosyslog_spark/fixtures/transcripts.pdb
    python tools/pdbtool.py match --ruleset axosyslog_spark/fixtures/transcripts.pdb \\
        --message "status=ok latency_ms=117 path=/v1/run retry=2"
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spark():
    from axosyslog_spark.session import get_spark

    return get_spark("pdbtool", cores=2, shuffle_partitions=2)


def cmd_test(args) -> int:
    from axosyslog_spark.operators.pdb_load import check_examples, load_pdb_xml

    rulesets = load_pdb_xml(args.ruleset)
    spark = _spark()
    failures = 0
    for rs in rulesets:
        problems = check_examples(spark, rs)
        n = len(rs.examples)
        if problems:
            failures += len(problems)
            print(f"ruleset {rs.name!r}: {len(problems)}/{n} example(s) FAILED")
            for p in problems:
                print(f"  {p}")
        else:
            print(f"ruleset {rs.name!r}: {n} example(s) OK")
    return 1 if failures else 0


def cmd_match(args) -> int:
    from axosyslog_spark.operators.pdb_load import load_pdb_xml

    rulesets = load_pdb_xml(args.ruleset)
    spark = _spark()
    rc = 1
    for rs in rulesets:
        pdb = rs.pattern_db(with_programs=bool(args.program))
        df = spark.createDataFrame(
            [(args.message, args.program or "")], "text string, program string"
        )
        out = pdb.apply(
            df, with_class=True, with_tags=True,
            program_col="program" if args.program else None,
        )
        row = out.collect()[0].asDict()
        if row.get("rule_id") is None:
            print(f"ruleset {rs.name!r}: no match")
            continue
        rc = 0
        print(f"ruleset {rs.name!r}: rule={row['rule_id']} class={row.get('rule_class')}")
        for k in sorted(row):
            if k in ("text", "program", "rule_id", "rule_class") or row[k] is None:
                continue
            print(f"  {k}={row[k]!r}")
    return rc


def cmd_patternize(args) -> int:
    """pdbtool patternize analog (pdbtool.c:1190-1230 option surface,
    ptz_print_patterndb output shape): cluster a log file with SLCT
    and print a patterndb v6 ruleset skeleton. Rule ids are
    content-derived (md5 of the pattern) instead of random UUIDs so
    output is reproducible."""
    import hashlib
    from xml.sax.saxutils import escape

    from axosyslog_spark.operators.patternize import (
        DEFAULT_DELIMITERS,
        patternize,
    )

    spark = _spark()
    df = spark.read.text(args.file).withColumnRenamed("value", "text")
    clusters = patternize(
        df,
        "text",
        support=args.support,
        delimiters=args.delimiters or DEFAULT_DELIMITERS,
        num_samples=args.samples,
        iterate_outliers=args.iterate_outliers,
    ).collect()

    def uid(s: str) -> str:
        h = hashlib.md5(s.encode()).hexdigest()
        return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"

    print("<patterndb version='6' pub_date='1970-01-01'>")
    print(f"  <ruleset name='patternize' id='{uid('patternize')}'>")
    print("    <rules>")
    for r in sorted(clusters, key=lambda r: (-r.support, r.pattern)):
        print(f"      <rule id='{uid(r.pattern)}' class='system' provider='patternize'>")
        print(f"        <!-- support: {r.support} -->")
        print("        <patterns>")
        print(f"          <pattern>{escape(r.pattern)}</pattern>")
        print("        </patterns>")
        if r.samples:
            print("        <examples>")
            for s in r.samples:
                print("            <example>")
                print(
                    "                <test_message program='patternize'>"
                    f"{escape(s)}</test_message>"
                )
                print("            </example>")
            print("        </examples>")
        print("      </rule>")
    print("    </rules>")
    print("  </ruleset>")
    print("</patterndb>")
    return 0


def _merge_sort_key(path: str):
    """pdbtool's merge --sort order (pdb-file.c:213-242
    pdbtool_path_compare): shallower paths first, then strcmp."""
    return (path.count("/"), path)


def _collect_pdb_filenames(dir_path, recursive=False, glob=None):
    """pdb_get_filenames (pdb-file.c:170-211): regular files in dir,
    descending into subdirectories only when recursive, filtered by a
    shell glob matched against the FULL path (g_pattern_match_simple)."""
    import fnmatch

    names = []
    for entry in sorted(os.listdir(dir_path)):
        full = os.path.join(dir_path, entry)
        if os.path.isdir(full):
            if recursive:
                names.extend(_collect_pdb_filenames(full, recursive, glob))
        elif os.path.isfile(full):
            if glob is None or fnmatch.fnmatchcase(full, glob):
                names.append(full)
    return names


def merge_pdb_dir(dir_path, recursive=False, glob=None, sort=False,
                  pub_date=None) -> str:
    """pdbtool merge analog (pdbtool.c:259-320 pdbtool_merge +
    pdbtool_merge_parser): concatenate every pdb file under dir_path
    into one <patterndb version='6'> document, stripping each file's
    own <patterndb> wrapper and up-converting v1 documents on the fly
    (<program> -> <ruleset>, in-rule bare <pattern>/<url> wrapped in
    <patterns>/<urls>, pdbtool.c:96-154). Returns the merged XML as a
    string; `pub_date` overrides today's date for reproducible output
    (the reference stamps time(NULL))."""
    import datetime
    import xml.etree.ElementTree as ET

    if pub_date is None:
        pub_date = datetime.date.today().isoformat()

    filenames = _collect_pdb_filenames(dir_path, recursive, glob)
    if sort:
        filenames.sort(key=_merge_sort_key)

    merged = ET.Element("patterndb", {"version": "6", "pub_date": pub_date})
    for fn in filenames:
        root = ET.parse(fn).getroot()
        if root.tag != "patterndb":
            raise ValueError(f"{fn}: expected <patterndb> root, got <{root.tag}>")
        version = int(root.get("version", "4") or "4")
        for child in root:
            if version == 1 and child.tag == "program":
                child.tag = "ruleset"
                bare_rules = [el for el in list(child) if el.tag == "rule"]
                if bare_rules:
                    # v1 keeps rules as direct <program> children; v6
                    # requires a <rules> wrapper (the reference's SAX
                    # loader tolerates both, ours is strict v2+ shape)
                    wrap = ET.Element("rules")
                    for el in bare_rules:
                        child.remove(el)
                        wrap.append(el)
                    child.append(wrap)
                for rule in child.iter("rule"):
                    pats = [el for el in list(rule) if el.tag == "pattern"]
                    urls = [el for el in list(rule) if el.tag == "url"]
                    if pats:
                        wrap = ET.Element("patterns")
                        for el in pats:
                            rule.remove(el)
                            wrap.append(el)
                        rule.insert(0, wrap)
                    if urls:
                        wrap = ET.Element("urls")
                        for el in urls:
                            rule.remove(el)
                            wrap.append(el)
                        rule.append(wrap)
            merged.append(child)

    body = ET.tostring(merged, encoding="unicode")
    return "<?xml version='1.0' encoding='UTF-8'?>\n" + body + "\n"


def cmd_dictionary(args) -> int:
    """pdbtool dictionary analog (pdbtool.c:1048-1130
    pdbtool_dictionary_walk): print every name the ruleset can emit —
    parser field names (@TYPE:name@ handles) and synthetic <value>
    names — or, with --dump-tags, the rule tags instead. --program
    restricts to rulesets whose program selector matches (exact or
    the selector's own glob). Plan-time only (no Spark); names print
    in document order (the reference walks its radix trie, so its
    order differs, but the name SET is the contract)."""
    import fnmatch

    from axosyslog_spark.operators.pdb_load import load_pdb_xml

    for rs in load_pdb_xml(args.ruleset):
        if args.program:
            sel_ok = any(
                s == args.program or fnmatch.fnmatchcase(args.program, s)
                for s in rs.programs
            )
            if not sel_ok:
                continue
        pdb = rs.pattern_db()
        if args.dump_tags:
            for rule in rs.rules:
                for t in rule.tags:
                    print(t)
            continue
        for c in pdb.patterns:
            for f in c.fields:
                print(f.name)
        for rule in rs.rules:
            for name, _tmpl in rule.values:
                print(name)
    return 0


def cmd_merge(args) -> int:
    merged = merge_pdb_dir(
        args.pdb_dir, recursive=args.recursive, glob=args.glob,
        sort=args.sort, pub_date=args.pub_date,
    )
    with open(args.pd, "w", encoding="utf-8") as f:
        f.write(merged)
    print(f"merged -> {args.pd}")
    return 0


def cmd_dump(args) -> int:
    """pdbtool dump analog (pdbtool.c pdbtool_walk_tree): the reference
    prints the radix trie; this engine's equivalent structures are the
    precedence-ordered compiled pattern list and the literal-prefix
    dispatch tree, so that's what dump shows — per leaf: the dispatch
    prefix and tier strategy, then each member pattern's ordinal,
    rule_id, field set and compiled regex body (no Spark session
    needed, plan-time only)."""
    from axosyslog_spark.operators.pdb_load import load_pdb_xml

    for rs in load_pdb_xml(args.ruleset):
        pdb = rs.pattern_db()
        print(f"ruleset '{rs.name}' ({len(pdb.patterns)} compiled patterns)")
        if args.program_tree:
            print(f"  program selectors: {list(pdb.programs) or '(all)'}")
            continue
        for leaf in pdb.leaves:
            print(f"  [prefix '{leaf.prefix}', {leaf.strategy}]")
            for c in leaf.members:
                fields = " ".join(
                    f"@{f.cast or 'string'}:{f.name}@" for f in c.fields
                )
                print(
                    f"    [{c.ordinal}] rule_id='{c.rule.rule_id}' "
                    f"{fields} /{c.body}/"
                )
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)
    t = sub.add_parser("test", help="replay the ruleset's <examples>")
    t.add_argument("--ruleset", required=True)
    d = sub.add_parser(
        "dump", help="print the compiled pattern/dispatch structure"
    )
    d.add_argument("--ruleset", required=True)
    d.add_argument("--program-tree", "-T", action="store_true")
    m = sub.add_parser("match", help="classify one message")
    m.add_argument("--ruleset", required=True)
    m.add_argument("--message", required=True)
    m.add_argument("--program", default=None)
    z = sub.add_parser(
        "patternize", help="discover patterns from a log file (SLCT)"
    )
    z.add_argument("--file", required=True, help="plain-text log file")
    z.add_argument("--support", "-S", type=float, default=4.0,
                   help="%% of lines that must support a pattern")
    z.add_argument("--delimiters", "-d", default=None)
    z.add_argument("--samples", type=int, default=3)
    z.add_argument("--iterate-outliers", action="store_true")
    g = sub.add_parser(
        "merge", help="combine a directory of pdb files into one ruleset"
    )
    g.add_argument("--pdb-dir", "-D", required=True)
    g.add_argument("--pd", "-p", required=True, help="output patterndb file")
    g.add_argument("--recursive", "-r", action="store_true")
    g.add_argument("--glob", "-G", default=None)
    g.add_argument("--sort", "-s", action="store_true")
    g.add_argument("--pub-date", default=None,
                   help="override pub_date (default: today)")
    dic = sub.add_parser(
        "dictionary", help="dump emit-able value names (or tags)"
    )
    dic.add_argument("--ruleset", "-p", required=True)
    dic.add_argument("--program", "-P", default=None)
    dic.add_argument("--dump-tags", "-T", action="store_true")
    args = p.parse_args(argv)
    if args.cmd == "dictionary":
        return cmd_dictionary(args)
    if args.cmd == "patternize":
        return cmd_patternize(args)
    if args.cmd == "merge":
        return cmd_merge(args)
    if args.cmd == "dump":
        return cmd_dump(args)
    return cmd_test(args) if args.cmd == "test" else cmd_match(args)


if __name__ == "__main__":
    sys.exit(main())
