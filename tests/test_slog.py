"""secure-logging analog: forward-secure seal/verify chains.

Reference semantics under test (modules/secure-logging/slog.c +
slogverify): key evolution per entry, per-entry MAC, aggregated MAC,
verification detects tampering / truncation / reordering, and a
compromised later key cannot recompute earlier MACs.
"""

from __future__ import annotations

from axosyslog_spark.operators.slog import (
    derive_key,
    evolve_key,
    seal_chain,
    slog_seal,
    verify_chain,
)

K0 = "00" * 32
MSGS = ["user alice logged in", "sudo rm -rf /tmp/x", "user alice logged out"]


def test_seal_verify_roundtrip():
    sealed = seal_chain(K0, MSGS)
    ok, recovered = verify_chain(K0, sealed)
    assert ok and recovered == MSGS
    # ciphertext is not the plaintext
    assert all(e["ct"] != m.encode().hex() for e, m in zip(sealed, MSGS))


def test_tamper_detection():
    sealed = seal_chain(K0, MSGS)
    bad = [dict(e) for e in sealed]
    ct = bytes.fromhex(bad[1]["ct"])
    bad[1]["ct"] = bytes([ct[0] ^ 1]) .hex() + ct[1:].hex()
    ok, recovered = verify_chain(K0, bad)
    assert not ok and recovered == MSGS[:1]  # verified prefix only


def test_truncation_and_reorder_detection():
    sealed = seal_chain(K0, MSGS)
    # dropping the middle entry breaks the counter/aggregate chain
    ok, _ = verify_chain(K0, [sealed[0], sealed[2]])
    assert not ok
    ok, _ = verify_chain(K0, [sealed[1], sealed[0], sealed[2]])
    assert not ok
    # a clean prefix IS valid up to its end (truncation is detected by
    # comparing the host's stored aggregate against the tail, which is
    # the slogverify contract; the prefix itself is internally sound)
    ok, rec = verify_chain(K0, sealed[:2])
    assert ok and rec == MSGS[:2]


def test_forward_security_key_evolution():
    # k_2 cannot re-derive k_1/k_0 (one-way evolution): entry 0 sealed
    # with k_0 stays verifiable only from k_0, and deriving forward
    # matches step-by-step evolution
    k0 = bytes.fromhex(K0)
    assert derive_key(k0, 3) == evolve_key(evolve_key(evolve_key(k0)))
    sealed_later = seal_chain(derive_key(k0, 2).hex(), ["x"])
    ok, _ = verify_chain(K0, sealed_later)
    assert not ok


def test_slog_seal_distributed(spark):
    df = spark.createDataFrame(
        [("c1", 0, "m0"), ("c1", 1, "m1"), ("c2", 0, "n0")],
        "conv_id string, turn_idx int, text string",
    )
    out = slog_seal(df, K0).collect()
    by_chain: dict = {}
    for r in out:
        by_chain.setdefault(r["conv_id"], []).append(r)
    c1 = sorted(by_chain["c1"], key=lambda r: r["slog_ctr"])
    entries = [
        {"ctr": r["slog_ctr"], "ct": r["slog_ct"], "mac": r["slog_mac"],
         "agg": r["slog_agg"]}
        for r in c1
    ]
    ok, rec = verify_chain(K0, entries)
    assert ok and rec == ["m0", "m1"]
    # per-chain evolution: same ctr in another chain -> different mac
    assert by_chain["c2"][0]["slog_mac"] != c1[0]["slog_mac"] or (
        by_chain["c2"][0]["slog_ct"] != c1[0]["slog_ct"]
    )


def test_pipe_slog_chains_verify_at_sf001(spark):
    """Replay every sealed conversation of the gated ``pipe_slog`` query
    at sf0.01: each chain, in counter order, verifies from k_0 and
    decrypts to that conversation's turns in turn order."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.01"
    sealed: dict = {}
    for r in e.q_pipe_slog(spark, sf).collect():
        sealed.setdefault(r["conv_id"], []).append(r)
    texts: dict = {}
    for r in e._transcripts(spark, sf).select("conv_id", "turn_idx", "text").collect():
        texts.setdefault(r["conv_id"], []).append((r["turn_idx"], r["text"]))
    assert sealed and set(sealed) == set(texts)
    for conv, rows in sealed.items():
        entries = [
            {"ctr": r["slog_ctr"], "ct": r["slog_ct"], "mac": r["slog_mac"],
             "agg": r["slog_agg"]}
            for r in sorted(rows, key=lambda r: r["slog_ctr"])
        ]
        ok, msgs = verify_chain(K0, entries)
        assert ok, conv
        assert msgs == [t for _, t in sorted(texts[conv])], conv
