"""Property-based differential fuzzing of the normalization kernel.

Hypothesis generates adversarial company-name-ish strings (mixed Vietnamese
diacritics, legal-form fragments, punctuation, weird whitespace) and asserts
our vectorized implementation is byte-identical to the reference functions —
a far wider net than the curated goldens.
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from company_name_matching_spark.functions import vnnorm

_HAVE_REFERENCE = os.path.isdir("/root/reference/src")

pytestmark = pytest.mark.skipif(
    not _HAVE_REFERENCE, reason="reference repo not present"
)

if _HAVE_REFERENCE:
    sys.path.insert(0, "/root/reference")
    try:
        from src.preprocess import (  # type: ignore  # noqa: E402
            clean_company_name,
            normalize_entity_types,
            normalize_functional_terms,
            normalize_vietnamese_text,
            remove_accents,
        )
    finally:
        sys.path.remove("/root/reference")

# building blocks that exercise every rule family + nasty separators
_FRAGMENTS = [
    "công ty", "cty", "tnhh", "cp", "ctcp", "jsc", "co.,ltd", "co. ltd", "llc",
    "ltd", "corp", "group", "tập đoàn", "tap doan", "tapdoan", "td", "br",
    "chi nhánh", "cn", "rep office", "representative office", "vpđd", "vpdd",
    "cổ phần", "trách nhiệm hữu hạn", "một thành viên", "1tv", "1 tv",
    "sản xuất thương mại", "sx tm", "sx-tm", "sx & tm", "sxtm",
    "thương mại dịch vụ", "tm&dv", "tm-dv", "tmdv", "tm dv",
    "xuất nhập khẩu", "xnk", "imp-exp", "import export",
    "đầu tư xây dựng", "đt xd", "dt xd", "dtxd", "hợp tác xã", "hop tac xa",
    "hợp danh", "sữa", "việt", "nam", "sơn", "hà", "a&b", "x+y", "q-z",
    "123", "!!", "@#$", "ĐẠI", "ồ Ẫ ự",
]

_name = st.lists(
    st.one_of(
        st.sampled_from(_FRAGMENTS),
        st.text(
            alphabet="abcdefghiklmnopqrstuvxy ạảãâầấẩẫậăằắẳẵặđèéẹẻẽêềếểễệ"
                     "ìíỉĩịòóọỏõôồốổỗộơờớởỡợùúụủũưừứửữựỳýỵỷỹ .,-&+!0189",
            min_size=0, max_size=12,
        ),
    ),
    min_size=0, max_size=8,
).map(lambda parts: " ".join(parts))


@settings(max_examples=150, deadline=None)
@given(_name, st.sampled_from([" ", "  ", "\t", " \t "]))
def test_clean_name_matches_reference(name: str, sep: str) -> None:
    raw = sep.join([name.upper(), name]) if name else name
    s = pd.Series([raw])
    assert vnnorm.clean_name(s).iloc[0] == clean_company_name(
        raw, remove_stopwords=True
    )
    assert vnnorm.clean_name(s, remove_stopwords=False).iloc[0] == clean_company_name(
        raw, remove_stopwords=False
    )


@settings(max_examples=150, deadline=None)
@given(_name)
def test_norm_key_matches_reference(name: str) -> None:
    ref = remove_accents(
        normalize_functional_terms(
            normalize_entity_types(normalize_vietnamese_text(name))
        )
    ).strip()
    assert vnnorm.norm_key(pd.Series([name])).iloc[0] == ref


@settings(max_examples=100, deadline=None)
@given(_name)
def test_fold_accents_idempotent_and_ascii_letters(name: str) -> None:
    once = vnnorm.fold_accents(pd.Series([name])).iloc[0]
    twice = vnnorm.fold_accents(pd.Series([once])).iloc[0]
    assert once == twice
    assert once == remove_accents(name)
