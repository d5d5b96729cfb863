"""The required-literal prefilter (extractors/rx.py) never changes a result.

* derivation: what counts as a required literal, and what does not;
* soundness: for every pattern routed through ``rx``, the prefiltered
  ``search``/``match``/``findall``/``finditer`` equal the raw compiled
  pattern's results on texts built from the pattern's own literals;
* fold traps: ``re.IGNORECASE`` folds ``ſ``, the Kelvin sign (U+212A), ``ı`` and
  ``İ`` onto ASCII letters, so a keyword spelled with them still matches;
  ``rx.fold`` maps every such character, over all of Unicode, and a page
  in another script is prefiltered like an ASCII one.
"""

import ast
import inspect
import re
import string
import sys

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ocr_documents_spark.extractors import classify, doc_types, fields_generic, rx
from ocr_documents_spark.extractors.pipeline_pure import process_document
from ocr_documents_spark.extractors.registry import FALLBACK_FIELD_PATTERNS
from ocr_documents_spark.fixtures.gen import make_document

_RX_CALLS = {"search", "match", "findall", "finditer", "compile"}


# --------------------------------------------------------------------------
# derivation
# --------------------------------------------------------------------------

def test_literal_runs_are_lowercased_ascii():
    assert rx.required_literals(r"P<[A-Z]{3}") == [("p<",)]
    assert rx.required_literals(r"place\s*of\s*birth", re.I) == [
        ("place",), ("of",), ("birth",)]


def test_branch_gives_any_of():
    assert rx.required_literals(r"(?:visit|tourist)\s*visa") == [
        ("visit", "tourist"), ("visa",)]
    # an alternative with no literal of its own voids the branch
    assert rx.required_literals(r"(?:\d+|street)") == []


def test_optional_parts_give_nothing():
    assert rx.required_literals(r"(?:x)?") == []
    assert rx.required_literals(r"x{0,3}") == []
    assert rx.required_literals(r"x*") == []
    assert rx.required_literals(r"passport\s*(?:no|number)?") == [("passport",)]


def test_groups_and_required_repeats_contribute():
    assert rx.required_literals(r"(abc)+") == [("abc",)]
    assert rx.required_literals(r"(?:ab){2,}c") == [("ab",), ("c",)]


def test_classes_lookarounds_and_non_ascii_give_nothing():
    assert rx.required_literals(r"[ab]\d\w.") == []
    assert rx.required_literals(r"x(?=yy)(?!zz)") == [("x",)]
    assert rx.required_literals("ſ") == []
    assert rx.required_literals("اسم\\s*الشركة") == []
    assert rx.required_literals("abKcd") == [("ab",), ("cd",)]


# --------------------------------------------------------------------------
# soundness over every routed pattern
# --------------------------------------------------------------------------

def _flags(call: ast.Call, module) -> int:
    arg = call.args[2] if len(call.args) > 2 else next(
        (k.value for k in call.keywords if k.arg == "flags"), None)
    return 0 if arg is None else getattr(module, arg.id)


def _rx_call(node) -> bool:
    return (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "rx" and node.func.attr in _RX_CALLS)


def _static_patterns(module) -> set:
    """(pattern, flags) of every rx call with a literal pattern, including
    ``for pat in ("...", ...): rx.search(pat, ...)`` cascades."""
    found = set()
    for node in ast.walk(ast.parse(inspect.getsource(module))):
        if _rx_call(node) and isinstance(node.args[0], ast.Constant):
            found.add((node.args[0].value, _flags(node, module)))
        elif (isinstance(node, ast.For) and isinstance(node.target, ast.Name)
              and isinstance(node.iter, ast.Tuple)
              and all(isinstance(e, ast.Constant) for e in node.iter.elts)):
            for sub in ast.walk(node):
                if (_rx_call(sub) and isinstance(sub.args[0], ast.Name)
                        and sub.args[0].id == node.target.id):
                    found.update((e.value, _flags(sub, module))
                                 for e in node.iter.elts)
    return found


def _routed_patterns() -> list:
    pats = _static_patterns(doc_types) | _static_patterns(fields_generic)
    for table in (doc_types._VAT_TABLE, doc_types._ENTRY_PERMIT_TABLE,
                  doc_types._LICENSE_TABLE):
        pats.update((p, doc_types._IM) for _, p in table)
    for table in FALLBACK_FIELD_PATTERNS.values():
        pats.update((p, fields_generic._IMD)
                    for ps in table.values() for p in ps)
    for row in classify._ENH_COMPILED:
        pats.update((p.regex.pattern, p.regex.flags & ~re.UNICODE)
                    for group in row[1:5] for p in group)
    # patterns built at run time (f-strings over keyword lists) are known
    # once the oracle has run over a stream that reaches every extractor;
    # they are gathered in an emptied cache, so the list does not depend on
    # what earlier tests in this process compiled
    saved = dict(rx._CACHE)
    rx._CACHE.clear()
    try:
        for i in range(400):
            d = make_document(i, 7)
            process_document(d["doc_id"], d["spans"])
        pats.update(rx._CACHE)
    finally:
        rx._CACHE.update(saved)
    return sorted(pats)


PATTERNS = _routed_patterns()

_SEPARATORS = [" ", "  ", "\n", ": ", ":", " - ", "/", "\t", "#", ".", ""]
_TOKENS = ["P<IND", "784-1234-1234567-1", "12/03/2020", "2020/03/12",
           "A1234567", "123456789", "4321 8765 2109", "LLC", "L.L.C", "AED",
           "15%", "MALE", "john.doe@example.com", "+971 50 123 4567",
           "Abc Def Ghi", "2", "0", "x", "ſ", "K", "ı", "İ", "عمل",
           "اسم الشركة", "₹", "€", "Σ"]
# non-ASCII spellings that re.IGNORECASE matches against an ASCII letter
_FOLD_VARIANTS = {"i": "ıİ", "s": "ſ", "k": "\u212a"}


@st.composite
def _text_for(draw, pattern: str):
    words = [l for req in rx.required_literals(pattern) for l in req]
    words += re.findall(r"[A-Za-z]{2,}", pattern)
    pieces = []
    for _ in range(draw(st.integers(0, 14))):
        kind = draw(st.integers(0, 3))
        if kind == 0 and words:
            word = draw(st.sampled_from(words))
            pieces.append("".join(
                draw(st.sampled_from(c.lower() + c.upper()
                                     + _FOLD_VARIANTS.get(c.lower(), "")))
                for c in word))
        elif kind == 1:
            pieces.append(draw(st.sampled_from(_SEPARATORS)))
        elif kind == 2:
            pieces.append(draw(st.sampled_from(_TOKENS)))
        else:
            pieces.append(draw(st.text(max_size=4)))
    return "".join(pieces)


def _m(m):
    return None if m is None else (m.span(), m.groups())


def test_routed_pattern_census():
    # every inline call site plus the tables and the classifier rule base
    assert len(PATTERNS) > 240
    assert sum(bool(rx.compile(p, f).required) for p, f in PATTERNS) > 200


@settings(max_examples=2000, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(data=st.data())
def test_prefiltered_equals_raw_pattern(data):
    pattern, flags = data.draw(st.sampled_from(PATTERNS))
    text = data.draw(_text_for(pattern))
    pre, raw = rx.compile(pattern, flags), re.compile(pattern, flags)
    assert _m(pre.search(text)) == _m(raw.search(text))
    assert _m(pre.match(text)) == _m(raw.match(text))
    assert pre.findall(text) == raw.findall(text)
    assert [_m(m) for m in pre.finditer(text)] == [
        _m(m) for m in raw.finditer(text)]
    assert _m(rx.search(pattern, text, flags)) == _m(raw.search(text))


# --------------------------------------------------------------------------
# fold traps
# --------------------------------------------------------------------------

def _raw_classify(text: str):
    """classify_enhanced with every rule on the bare compiled pattern."""
    saved = classify._ENH_COMPILED
    classify._ENH_COMPILED = [
        (row[0], *([p.regex for p in group] for group in row[1:5]), *row[5:])
        for row in saved]
    try:
        return classify.classify_enhanced(text)
    finally:
        classify._ENH_COMPILED = saved


_EID = ("EMIRATES ID\nIdentity Card\nCard No 784-1234-1234567-1\n"
        "Nationality INDIA\nExpiry 01/01/2030\n")


@pytest.mark.parametrize("text, keyword", [
    # the trap keyword is an exclusion: EMIRATES_ID must still be zeroed
    (_EID + "PAſſPORT holder", "passport"),
    # the trap keyword is a mandatory gate
    ("COMMERCIAL LıCENSE\nLıcense No: DED-12345\nLegal Form: LLC\n"
     "Chamber of Commerce member\nIssue Date 01/01/2020", "license"),
    ("COMMERCIAL LİCENSE\nLİcense No: DED-12345\nLegal Form: LLC\n"
     "Chamber of Commerce member\nIssue Date 01/01/2020", "license"),
    ("Ministry of Labour\nWORK PERMIT\nEmployer: ACME LLC\n"
     "Occupation: Driver\nCard No 12345678", "work"),
])
def test_fold_trap_classify(text, keyword):
    # no ASCII spelling of the keyword: only the non-ASCII fold finds it
    assert keyword not in text.encode("ascii", "replace").decode().lower()
    got = classify.classify_enhanced(text)
    assert got == _raw_classify(text)
    missing = re.sub(r"\S*(?:ſ|ı|İ|K)\S*", "XXXX", text)
    assert got != _raw_classify(missing)        # the keyword decides it


@pytest.mark.parametrize("spelling", ["LıCENSE NO", "LİCENSE NO", "licenſe no"])
def test_fold_trap_field_pattern(spelling):
    text = f"Trade Register\n{spelling}: DED-12345\n"
    assert "license" not in text.lower()
    fields = doc_types.extract_company_license(text)
    assert fields["license_no"]["value"] == "DED-12345"
    pattern = dict(doc_types._LICENSE_TABLE)["license_no"]
    assert _m(rx.search(pattern, text, doc_types._IM)) == _m(
        re.search(pattern, text, doc_types._IM))


def test_fold_covers_every_ignorecase_match_of_an_ascii_char():
    every = "".join(chr(c) for c in range(sys.maxunicode + 1)
                    if not 0xD800 <= c <= 0xDFFF)
    non_ascii = set()
    for c in string.ascii_letters + string.digits + string.punctuation:
        for m in re.finditer(re.escape(c), every, re.I):
            assert rx.fold(m.group()) == c.lower(), (c, m.group())
            if not m.group().isascii():
                non_ascii.add(m.group())
    assert non_ascii == {"\u017f", "\u212a", "\u0131", "\u0130"}


def test_mixed_script_page_is_prefiltered():
    # Arabic and currency symbols on a page do not switch the filter off
    p = rx.Prefiltered("passport", re.I)
    p.regex = None                      # any regex scan would raise
    assert p.search("اسم الشركة ₹ 500 visa") is None
    assert p.findall("VISA € Σ") == []


def test_lowercase_cache_follows_the_text():
    p = rx.compile("passport", re.I)
    assert p.search("PASSPORT") is not None
    assert p.search("visa") is None
    assert p.search("PAſſPORT") is not None
    assert p.search("PASSPORT") is not None
