"""Cheap n-gram language guesser (SURVEY.md §2 A15).

Scores text against small pinned profiles of high-frequency words /
character classes for the five corpus languages {en, fr, es, de, zh}.
Used as a *metric* (crawler-lang mismatch rate), never as the
authoritative lang column. Deterministic; ties broken by fixed
language order.
"""

from __future__ import annotations

import re

_PROFILES = {
    "en": frozenset(
        "the of and to in is that it was for on are as with his they at be this"
        " have from or had by not but what all were when we there can an your"
        " which their said if do will each about how up out them then she many".split()
    ),
    "fr": frozenset(
        "le la les de des du un une et en est que qui dans pour sur avec ne pas"
        " ce cette il elle nous vous ils au aux par plus mais ou si leur son sa"
        " ses être avoir fait comme tout bien sans peut dont".split()
    ),
    "es": frozenset(
        "el la los las de del un una y en es que se no por con para su al lo"
        " como más pero sus le ya o este sí porque esta entre cuando muy sin"
        " sobre también me hasta hay donde quien desde todo nos".split()
    ),
    "de": frozenset(
        "der die das und ist in den von zu mit sich des auf für nicht ein eine"
        " als auch es an werden aus er hat dass sie nach wird bei einer um am"
        " sind noch wie einem über einen so zum war haben nur oder aber".split()
    ),
}

_CJK_RE = re.compile(r"[一-鿿]")
_WORD_RE = re.compile(r"[a-zà-öø-ÿ]+", re.IGNORECASE)


def guess_lang(text: str | None) -> str:
    """Best-guess language tag; 'und' for empty/undecidable text."""
    if not text:
        return "und"
    sample = text[:4000]
    cjk = len(_CJK_RE.findall(sample))
    if cjk >= 5 or (len(sample) > 0 and cjk / max(len(sample), 1) > 0.05):
        return "zh"
    words = [w.lower() for w in _WORD_RE.findall(sample)][:500]
    if not words:
        return "und"
    best_lang, best_score = "und", 0
    for lang in ("en", "fr", "es", "de"):  # fixed tie-break order
        score = sum(1 for w in words if w in _PROFILES[lang])
        if score > best_score:
            best_lang, best_score = lang, score
    return best_lang if best_score >= 2 else "und"
