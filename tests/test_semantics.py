"""Pure-Python semantics unit tests, including reference golden values."""

from __future__ import annotations

from dataqualitykit_spark import semantics as S


def test_missing_tokens():
    # reference missing set, QualityControl.py:53-57
    for v in (None, "", "   ", "\t\n", "NA", "N/A", "null", "none"):
        assert S.is_missing(v), v
    for v in ("x", " x ", "None of this", "0"):
        assert not S.is_missing(v), v


def test_encoding_goldens():
    # goldens from reference tests/test_encoding_conformity.py:44,51,57-58
    assert S.encoding_remove_invalid("invalid \x80 text") == "invalid  text"
    assert S.encoding_replace_invalid("invalid \x80 text") == "invalid ? text"
    # printable non-ASCII survives remove AND replace (goldens :44-45,:50-51)
    assert S.encoding_remove_invalid("text with special char é") == (
        "text with special char é"
    )
    assert S.encoding_replace_invalid("text with special char é") == (
        "text with special char é"
    )
    # replacement parameter is honored (was dead code pre-round-2)
    assert S.encoding_replace_invalid("a\x80b", replacement="#") == "a#b"


def test_nonprintable_regex_matches_python_isprintable():
    # the shared class must agree with str.isprintable on every char the
    # fixtures can contain — Python / Java regex / RE2 all consume it
    import re

    import duckdb

    sample = "a b\tc\nd\re\x80é漢​   \x07ø€—"
    expected = "".join(ch for ch in sample if ch.isprintable())
    got_duck = duckdb.connect().execute(
        "SELECT regexp_replace(?, ?, '', 'g')", [sample, S.NONPRINTABLE_REGEX]
    ).fetchone()[0]
    assert got_duck == expected
    # python re has no \p{..}; assert via the semantics function instead
    assert S.encoding_remove_invalid(sample) == expected
    assert S.encoding_xmlcharref("text with special char é") == (
        "text with special char &#233;"
    )
    assert S.encoding_xmlcharref("invalid \x80 text") == "invalid &#128; text"


def test_scrub_pii():
    out = S.scrub_text(
        "mail bob@example.com call 123-456-7890 or (123) 456-7890 "
        "ip 192.168.0.1 ssn 123-45-6789"
    )
    assert out == ("mail <EMAIL> call <PHONE> or <PHONE> ip <IP> ssn <SSN>")


def test_scrub_mojibake_and_ctrl():
    caf = "caf" + S.MOJIBAKE_MAP[0][0]
    assert S.scrub_text(f"the {caf}\x07 bar") == "the café bar"


def test_scrub_toxicity():
    assert S.scrub_text("oh Heck and darnit here") == "oh <TOX> and <TOX> here"
    # no partial-word hits
    assert S.scrub_text("checker frickle") == "checker frickle"


def test_langid():
    en = "the cat sat on the mat and it was happy with all of this"
    de = "der hund ist nicht mit der katze und das ist auch gut für sie"
    assert S.langid(en)[0] == "en"
    assert S.langid(de)[0] == "de"
    assert S.langid("zzz qqq xxx")[0] == "und"
    assert S.langid("")[1] == 0.0


def test_perplexity_separates_prose_from_gibberish():
    prose = "the children played in the fields and the river ran slowly past"
    gib = "qxzjv kwfyq xzjvq wfyqx zjvkw fyqxz jvkwf yqxzj"
    assert S.perplexity(prose) < 14
    assert S.perplexity(gib) > 22
    assert S.perplexity("") == 1e9


def test_tokenize_ascii_ws_only():
    # \xa0 (unicode nbsp) must NOT split — pins ASCII-\s parity with Java
    assert S.tokenize("a\xa0b c") == ["a\xa0b", "c"]
    assert S.tokenize("  a  b\t\nc ") == ["a", "b", "c"]


def test_hashes():
    assert S.content_hash("abc") == "900150983cd24fb0d6963f7d28e17f72"
    assert S.sha256_hex("abc").startswith("ba7816bf")


def test_script_langid():
    # non-Latin script legs (ja before zh: kana is the Japanese signal)
    assert S.langid("これは日本語のテキストです ひらがなとカタカナ")[0] == "ja"
    assert S.langid("这是一个中文文档 包含足够多的汉字用于测试")[0] == "zh"
    assert S.langid("это русский текст для проверки языка")[0] == "ru"
    assert S.langid("هذا نص عربي لاختبار تحديد اللغة")[0] == "ar"
    assert S.langid("이것은 한국어 텍스트입니다")[0] == "ko"
    # Latin-script profiles unaffected
    assert S.langid("the cat and the dog are in the house with them")[0] == "en"
    # fused scorer agrees with langid on script docs
    for t in ("これはテキストです ひらがな", "это русский текст для проверки"):
        assert S.score_document(t)[0] == S.langid(t)[0]
        assert S.score_document(t)[1] == S.langid(t)[1]


def test_operator_import_loads_only_that_module():
    """`from .operators import c4_filter` (semantics' lazy C4 mirrors, in
    every Python worker) must not load the other operator modules."""
    import subprocess
    import sys
    from pathlib import Path

    out = subprocess.run(
        [
            sys.executable,
            "-X",
            "importtime",
            "-c",
            "import dataqualitykit_spark.semantics; "
            "import dataqualitykit_spark.operators.c4_filter",
        ],
        capture_output=True,
        text=True,
        check=True,
        cwd=Path(__file__).resolve().parents[1],
    )
    loaded = {
        line.rsplit("|", 1)[1].strip()
        for line in out.stderr.splitlines()
        if line.startswith("import time:")
    }
    ops = {m for m in loaded if m.startswith("dataqualitykit_spark.operators.")}
    assert "dataqualitykit_spark.operators.c4_filter" in ops
    assert ops <= {
        "dataqualitykit_spark.operators.c4_filter",
        "dataqualitykit_spark.operators.repetition",
    }, sorted(ops)
