from __future__ import annotations

from block_explorer_spark.functions import jets, refs


def test_jet_parents_siblings():
    assert jets.jet_parents("010") == ["", "0", "01", "010"]
    assert jets.jet_parents("") == [""]
    assert jets.jet_siblings("01") == ["01", "010", "011", "0"]
    assert jets.sibling_exprs("") == ["", "0", "1"]


def test_trie_covered():
    assert jets.trie_covered([""])
    assert jets.trie_covered(["0", "1"])
    assert jets.trie_covered(["0", "10", "11"])
    assert jets.trie_covered(["00", "01", "10", "110", "111"])
    assert not jets.trie_covered(["0"])
    assert not jets.trie_covered(["0", "10"])
    assert not jets.trie_covered([])
    assert not jets.trie_covered(["00", "01", "10", "110"])


def test_jet_drop_id_roundtrip():
    assert jets.parse_jet_drop_id("*:4000") == ("", 4000)
    assert jets.parse_jet_drop_id("0101:65537") == ("0101", 65537)
    assert jets.is_valid_jet_id("*") and jets.is_valid_jet_id("0101")
    assert not jets.is_valid_jet_id("012")
    assert not jets.is_valid_jet_id("")


def test_jet_cols(spark):
    df = spark.createDataFrame([("", 100), ("01", 200)], ["jet_id", "pulse_number"])
    got = df.select(jets.jet_drop_id_col().alias("jdid")).collect()
    assert got[0].jdid == "*:100"
    assert got[1].jdid == "01:200"


def test_base58_roundtrip():
    for b in (b"", b"\x00\x00abc", b"hello world", bytes(range(32))):
        assert refs.base58_decode(refs.base58_encode(b)) == b


def test_null_if_empty_bytes(spark):
    df = spark.createDataFrame(
        [(b"",), (b"\x00\x00",), (b"\x01",), (None,)], "c: binary"
    )
    got = [r.v for r in df.select(refs.null_if_empty_bytes("c").alias("v")).collect()]
    assert got[0] is None and got[1] is None and got[3] is None
    assert bytes(got[2]) == b"\x01"


