"""The stub emitter's needle precheck must never skip a rule whose regex
would match: emissions with the precheck on equal a full scan of every
rule, including under Unicode case folding, where ``re.IGNORECASE``
equates more characters than ``str.lower()`` does."""

from __future__ import annotations

import random
import re
import sys

import numpy as np
import pytest

from pii_core import ner_stub
from pii_core.ner_stub import _RULE_NEEDLES, _needle_fold, stub_emissions

NEEDLES = sorted({n for ns in _RULE_NEEDLES.values() for n in ns})
ALL_CODEPOINTS = "".join(chr(c) for c in range(sys.maxunicode + 1)
                         if not 0xD800 <= c <= 0xDFFF)


def _equivalents(letter: str) -> list[str]:
    """Every codepoint that sre matches against ``letter`` under IGNORECASE
    (one C scan over all codepoints instead of 1.1M fullmatch calls)."""
    return [m.group() for m in
            re.finditer(re.escape(letter), ALL_CODEPOINTS, re.IGNORECASE)]


def _offsets(text: str) -> np.ndarray:
    spans = [m.span() for m in re.finditer(r"\S+", text)]
    return np.array(spans or np.zeros((0, 2)), dtype=np.int64).reshape(-1, 2)


def _full_scan(text: str, monkeypatch) -> np.ndarray:
    with monkeypatch.context() as m:
        m.setattr(ner_stub, "_RULE_NEEDLES", {})
        return stub_emissions(text, _offsets(text))


@pytest.mark.parametrize("letter", sorted(set("".join(NEEDLES))))
def test_fold_maps_every_ignorecase_equivalent_onto_the_needle_letter(letter):
    eq = _equivalents(letter)
    assert letter in eq
    bad = {c: _needle_fold(c) for c in eq if _needle_fold(c) != letter}
    assert not bad, bad


@pytest.mark.parametrize("needle", NEEDLES)
def test_every_single_char_variant_of_a_needle_is_found(needle):
    for i, letter in enumerate(needle):
        for c in _equivalents(letter):
            variant = f"x {needle[:i]}{c}{needle[i + 1:]} y"
            assert needle in _needle_fold(variant), (needle, variant)


@pytest.mark.parametrize("text,typ", [
    ("mora na TRAVEſſA Azul 12", "ENDERECO"),
    ("naſcida em 01/02/1990", "DATA_NASC"),
    ("AVENİDA Brasil 9", "ENDERECO"),
    ("NASCıDO EM 03/04/1985", "DATA_NASC"),
])
def test_folding_examples_emit_like_a_full_scan(text, typ, monkeypatch):
    want = _full_scan(text, monkeypatch)
    got = stub_emissions(text, _offsets(text))
    # the full scan does find the entity, so equality is not vacuous
    assert want[:, ner_stub._L2I[f"B-{typ}"]].max() > ner_stub._O_LOGIT
    np.testing.assert_array_equal(got, want)


def test_precheck_differential_random_texts(monkeypatch):
    rng = random.Random(7)
    alphabet = list("abcdeimnorstuvlq ./,0123456789") + [
        "ſ", "ı", "İ", "̇", "RUA ", "Avenida ", "TRAVESSA ", "av. ",
        "nascido em ", "Data de Nascimento: ", "01/02/1990", "Quadra ",
        "Alameda ", "12345-123456/2020-11", "ABC-1234", "Maria da Silva"]
    for _ in range(600):
        text = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 40)))
        np.testing.assert_array_equal(
            stub_emissions(text, _offsets(text)),
            _full_scan(text, monkeypatch), err_msg=repr(text))
