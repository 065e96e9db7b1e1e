"""ISO-639 language-code validation.

Reference: kgtk/value/languagevalidator.py — pycountry/iso639 lookups
plus a table of additional (new or retired) codes. Those lookup
libraries are not in this container, so the complete code tables are
embedded in ``kgtk_spark.iso639_data`` (generated from the public
Debian ``iso-codes`` dataset — the same source pycountry ships):

- the complete ISO 639-1 two-letter set (184 codes);
- every ISO 639-2/3 three-letter code (individual, macro,
  bibliographic and terminology variants) plus the ISO 639-5
  collective codes — 8,047 distinct three-letter codes;
- the reference's DEFAULT_ADDITIONAL_LANGUAGE_CODES (new + retired).

``validate_lang`` mirrors the reference's rules: optional
``-country/dialect`` suffix is split off first; 2-letter codes check
639-1, 3-letter codes check 639-2/3/5, then the additional table.
"""

from __future__ import annotations

from kgtk_spark.iso639_data import ISO_639_1, ISO_639_3_ALL

# kgtk/value/languagevalidator.py DEFAULT_ADDITIONAL_LANGUAGE_CODES
DEFAULT_ADDITIONAL_LANGUAGE_CODES = ["cnr", "hyw", "szy", "bh", "mo", "eml"]

_ISO_639_1_SET = frozenset(ISO_639_1)
_ISO_639_3_SET = frozenset(ISO_639_3_ALL)


def validate_lang(
    lang: str,
    additional_language_codes: list[str] | None = None,
    allow_language_suffixes: bool = True,
) -> bool:
    """Python-side validator (languagevalidator.py:70-130 semantics)."""
    if allow_language_suffixes and "-" in lang:
        lang = lang.split("-", 1)[0]
    lang = lang.lower()
    if lang in _ISO_639_1_SET or lang in _ISO_639_3_SET:
        return True
    if additional_language_codes is not None:
        # a caller-supplied table REPLACES the default additional table
        return lang in additional_language_codes
    return lang in DEFAULT_ADDITIONAL_LANGUAGE_CODES

