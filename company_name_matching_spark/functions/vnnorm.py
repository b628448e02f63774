"""Vietnamese company-name normalization kernel — vectorized over pandas.

This module is the semantic foundation of the whole engine: every blocking
key, every pairwise feature, and every cluster identity derives from the
strings produced here. It re-derives (from observed behavior, byte-for-byte)
the normalization spec of the reference implementation
(``/root/reference/src/preprocess.py:4-217``), but applies every rule as a
*vectorized* ``pd.Series`` operation so it can run inside Arrow-batched
pandas UDFs with no per-row Python (the reference loops rows inside its UDF,
``src/databricks/preprocessing/vietnamese_udfs.py:82`` — we do not).

Rule families (all ORDER-SENSITIVE, applied top to bottom):

* ``ENTITY_RULES``      — legal-form canonicalization (JSC→cp, CO.,LTD→tnhh, …);
  parity target ``preprocess.py:15-69``.
* ``FUNCTIONAL_RULES``  — functional-phrase canonicalization (IMP-EXP→xnk,
  TM&DV→tmdv; ``sxtm`` must fire before ``tmdv``); parity target
  ``preprocess.py:77-129``.
* ``ACCENT_SRC/DST``    — 134-char diacritic fold table; parity target
  ``preprocess.py:132-144``. Exposed for Spark-native
  ``F.translate(col, ACCENT_SRC, ACCENT_DST)``.
* ``STOPWORDS`` / ``STOPWORDS_NO_ACCENT`` — two-pass noise removal keeping
  the discriminating legal-form tokens; parity target ``preprocess.py:172-210``.

Observed reference subtlety we preserve: ``clean_company_name`` collapses the
*no-accent* string in BOTH branches (``preprocess.py:197-215``), so its output
is always diacritic-free.
"""

from __future__ import annotations

import pandas as pd

# ---------------------------------------------------------------------------
# Rule tables (data, not code). The regex strings must match the reference
# byte-for-byte — they ARE the matching semantics.
# ---------------------------------------------------------------------------

# Legal-form (entity-type) canonicalization. (pattern, replacement), ordered.
ENTITY_RULES: list[tuple[str, str]] = [
    # English / mixed-script forms
    (r'\bjsc\.?\b', 'cp'),
    (r'\bco\.,?\s*ltd\.?\b', 'tnhh'),
    (r'\bco\.\s*ltd\.?\b', 'tnhh'),
    (r'\bllc\.?\b', 'tnhh'),
    (r'\bltd\.?\b', 'tnhh'),
    (r'\bcorp\.?\b', 'cp'),
    # English branch / representative office
    (r'\brep(?:resentative)?\s+office\b', 'vpdd'),
    (r'\bbranch\b', 'cn'),
    # Vietnamese abbreviation aliases
    (r'\bctcp\b', 'cp'),
    (r'\bcty\s+cp\b', 'cp'),
    (r'\bcty\s+tnhh\b', 'tnhh'),
    # TẬP ĐOÀN / GROUP → 'td'
    (r'\btập đoàn\b', 'td'),
    (r'\btap\s+doan\b', 'td'),
    (r'\bgroup\b', 'td'),
    (r'\btd\b', 'td'),
    # Vietnamese long-form → canonical abbreviation
    (r'\bcổ phần\b', 'cp'),
    (r'\btrách nhiệm hữu hạn\b', 'tnhh'),
    (r'\bmột thành viên\b', 'mtv'),
    (r'\b1 thành viên\b', 'mtv'),
    (r'\bvăn phòng đại diện\b', 'vpdd'),
    (r'\bvpđd\b', 'vpdd'),
    # No-accent variants
    (r'\bco\s+phan\b', 'cp'),
    (r'\btrach\s+nhiem\s+huu\s+han\b', 'tnhh'),
    (r'\bmot\s+thanh\s+vien\b', 'mtv'),
    (r'\bvan\s+phong\s+dai\s+dien\b', 'vpdd'),
    (r'\bhop\s+tac\s+xa\b', 'htx'),
    # Accented long-form
    (r'\bhợp tác xã\b', 'htx'),
    (r'\bhợp danh\b', 'hd'),
    (r'\bhop\s+danh\b', 'hd'),
]

# Functional-phrase canonicalization. ORDER MATTERS: the sxtm family must fire
# before the tmdv family so that "sản xuất thương mại dịch vụ" becomes
# "sxtm dịch vụ" (sxtm consumes "thương mại" first).
FUNCTIONAL_RULES: list[tuple[str, str]] = [
    # IMP-EXP / IMPORT EXPORT ↔ XUẤT NHẬP KHẨU
    (r'\bimp[\-\s]?exp\b', 'xnk'),
    (r'\bimport[\-\s]+export\b', 'xnk'),
    (r'\bxuất nhập khẩu\b', 'xnk'),
    (r'\bxuat\s+nhap\s+khau\b', 'xnk'),
    # SX-TM / SXTM ↔ SẢN XUẤT THƯƠNG MẠI (before tmdv!)
    (r'\bsx(?:\s*[&\-]\s*|\s+)tm\b', 'sxtm'),
    (r'\bsxtm\b', 'sxtm'),
    (r'\bsản xuất thương mại\b', 'sxtm'),
    (r'\bsan\s+xuat\s+(?:thuong\s+mai|tm)\b', 'sxtm'),
    # TM&DV / TMDV / TM-DV ↔ THƯƠNG MẠI DỊCH VỤ
    (r'\btm\s*[&\-]\s*dv\b', 'tmdv'),
    (r'\bthương mại\s+(?:và\s+)?dịch vụ\b', 'tmdv'),
    (r'\bthuong\s+mai\s+(?:va\s+)?dich\s+vu\b', 'tmdv'),
    (r'\btm\s+(?:và\s+)?dịch vụ\b', 'tmdv'),
    (r'\btm\s+(?:va\s+)?dich\s+vu\b', 'tmdv'),
    # DTXD / DT XD ↔ ĐẦU TƯ (VÀ) XÂY DỰNG
    (r'\bdtxd\b', 'dtxd'),
    (r'\bđt\s*xd\b', 'dtxd'),
    (r'\bdt\s*xd\b', 'dtxd'),
    (r'\bđầu tư\s+(?:và\s+)?xây dựng\b', 'dtxd'),
    (r'\bdau\s+tu\s+(?:va\s+)?xay\s+dung\b', 'dtxd'),
    # 1TV / 1 TV → mtv
    (r'\b1\s*tv\b', 'mtv'),
    # BR as a branch prefix ("BR Công ty…" → "cn Công ty…"); needs lookahead,
    # so it is NOT expressible in RE2 (DuckDB oracle excludes it; pytest covers it).
    (r'(?:^|\s)br\s+(?=(?:co|cty|công|tnhh|cp|chi|cn)\b)', 'cn '),
]

# Diacritic fold table (134 chars). Index-aligned src→dst; usable directly in
# Spark-native translate().
ACCENT_SRC = (
    'ÀÁÂÃÈÉÊÌÍÒÓÔÕÙÚÝàáâãèéêìíòóôõùúýĂăĐđĨĩŨũƠơƯư'
    'ẠạẢảẤấẦầẨẩẪẫẬậẮắẰằẲẳẴẵẶặẸẹẺẻẼẽẾếỀềỂểỄễỆệỈỉỊị'
    'ỌọỎỏỐốỒồỔổỖỗỘộỚớỜờỞởỠỡỢợỤụỦủỨứỪừỬửỮữỰựỲỳỴỵỶỷỸỹ'
)
ACCENT_DST = (
    'AAAAEEEIIOOOOUUYaaaaeeeiioooouuyAaDdIiUuOoUu'
    'AaAaAaAaAaAaAaAaAaAaAaAaEeEeEeEeEeEeEeEeIiIi'
    'OoOoOoOoOoOoOoOoOoOoOoOoUuUuUuUuUuUuUuYyYyYyYy'
)
assert len(ACCENT_SRC) == len(ACCENT_DST) == 134
_ACCENT_TRANSLATE = str.maketrans(ACCENT_SRC, ACCENT_DST)

# Special-char strip: keep word chars, whitespace, Vietnamese letters, & + -
SPECIAL_CHAR_PATTERN = (
    r'[^a-zA-Z0-9\sàáạảãâầấậẩẫăằắặẳẵèéẹẻẽêềếệểễìíịỉĩ'
    r'òóọỏõôồốộổỗơờớợởỡùúụủũưừứựửữỳýỵỷỹđ&+\-]'
)

# Two-pass stopword removal. Pass 1 runs on the (possibly accented) string,
# pass 2 on its no-accent fold. Legal-form tokens (cp/tnhh/mtv/vpdd/htx/hd/cn)
# are deliberately NOT stopwords — they discriminate sibling companies.
STOPWORDS: list[str] = [
    r'\bcông ty\b', r'\bcty\b',
    r'\bthương mại\b', r'\bdịch vụ\b',
    r'\bxuất nhập khẩu\b', r'\bxnk\b',
    r'\bđầu tư\b', r'\bxây dựng\b', r'\bsản xuất\b',
    r'\bphát triển\b', r'\bvận tải\b', r'\blogistics\b',
    r'\bvà\b',
    r'\btm\b', r'\bdv\b', r'\bdt\b', r'\bđt\b',
    r'\bxd\b', r'\bsx\b', r'\bpt\b', r'\bvt\b',
    r'\bmt\b',
    r'\btmdv\b', r'\bdtxd\b', r'\bsxtm\b',
    r'\btrách nhiệm hữu hạn\b', r'\bcổ phần\b',
    r'\bmột thành viên\b', r'\b1 thành viên\b',
    r'\bvăn phòng đại diện\b', r'\bvpđd\b',
]

STOPWORDS_NO_ACCENT: list[str] = [
    r'\bcong ty\b',
    r'\bthuong mai\b', r'\bdich vu\b',
    r'\bxuat nhap khau\b',
    r'\bdau tu\b', r'\bxay dung\b', r'\bsan xuat\b',
    r'\bphat trien\b', r'\bvan tai\b',
    r'\btrach nhiem huu han\b', r'\bco phan\b',
    r'\bmot thanh vien\b', r'\bvan phong dai dien\b',
]

# Entity-type tokens that discriminate sibling companies; ordered by
# specificity, first match wins (parity target ``matcher.py:15-23``).
ENTITY_TYPE_TOKENS = ('vpdd', 'cn', 'td', 'htx', 'hd', 'tnhh', 'cp', 'mtv')

# Match-side synonym layer — an ENGINE EXTENSION, not reference parity.
# The reference's exact-key grouping misses surface families its own variant
# generator produces (``combinatorial.py:15,27-28``: chi nhánh↔cn↔br,
# tập đoàn↔tapdoan); it papers over them with global TF-IDF ranking, which a
# distributed pairwise classifier does not have. Applied AFTER clean_name
# (input is lowercase, accent-free), producing the blocking/matching string.
MATCH_ALIASES: list[tuple[str, str]] = [
    (r'\bchi nhanh\b', 'cn'),
    (r'\bbr\b', 'cn'),
    (r'\btapdoan\b', 'td'),
    # "1 thành viên" (combinatorial.py type_variants) folds to "1 thanh vien"
    # after accent removal and is NOT covered by the entity rules (which only
    # know "mot thanh vien"/"1tv"); canonicalize it so token-level blocking
    # sees the same key as the corpus side
    (r'\b1 thanh vien\b', 'mtv'),
    # rule-order leftovers: an earlier rule can consume half of a compound
    # ("san xuat tm"-type rules eat the "tm" of "tm-dv"), stranding a
    # punctuation-only token that poisons token-set blocking
    (r'(?<!\S)[-&+.,]+(?!\S)', ' '),
    # English legal-form equivalences (cross-language queries — the
    # reference's evaluate_cross_language.py scenario). Input here is
    # already lowercase + accent-free. Longest form first.
    (r'\bjoint stock commercial bank\b', 'ngan hang tmcp'),
    (r'\bcommercial joint stock bank\b', 'ngan hang tmcp'),
    (r'\bjoint stock company\b', 'cp'),
    (r'\bjoint stock\b', 'cp'),
    (r'\bcompany limited\b', 'tnhh'),
    (r'\blimited company\b', 'tnhh'),
    (r'\blimited liability company\b', 'tnhh'),
    (r'\bco ltd\b', 'tnhh'),
    (r'\bltd\b', 'tnhh'),
    (r'\blimited\b', 'tnhh'),
    (r'\bincorporated\b', 'cp'),
    (r'\binc\b', 'cp'),
    (r'\bcorporation\b', 'tong'),
    (r'\bcorp\b', 'tong'),
    (r'\bcompany\b', ' '),  # EN twin of the 'cong ty' stopword
    (r'\bvietnam\b', 'viet nam'),  # token split so blocking sees both
]


# ---------------------------------------------------------------------------
# Vectorized appliers. Each takes/returns pd.Series[str] (never None inside).
# ---------------------------------------------------------------------------

def _fillna(s: pd.Series) -> pd.Series:
    return s.fillna('').astype(str)


def nfc_lower(s: pd.Series) -> pd.Series:
    """NFC-normalize + lowercase + strip; '' for null/empty.

    Parity target: ``preprocess.py:4-9`` (applied to every element).
    """
    s = _fillna(s)
    return s.str.normalize('NFC').str.lower().str.strip()


def _apply_rules(s: pd.Series, rules: list[tuple[str, str]]) -> pd.Series:
    for pattern, replacement in rules:
        s = s.str.replace(pattern, replacement, regex=True)
    return s


def apply_entity_rules(s: pd.Series) -> pd.Series:
    """Canonicalize legal-form surface variants (``preprocess.py:54-69``)."""
    return _apply_rules(_fillna(s), ENTITY_RULES)


def apply_functional_rules(s: pd.Series) -> pd.Series:
    """Canonicalize functional phrases (``preprocess.py:113-129``)."""
    return _apply_rules(_fillna(s), FUNCTIONAL_RULES)


def fold_accents(s: pd.Series) -> pd.Series:
    """Fold Vietnamese diacritics to ASCII (``preprocess.py:132-144``)."""
    return _fillna(s).str.translate(_ACCENT_TRANSLATE)


def _canonical_base(s: pd.Series) -> pd.Series:
    """Shared prefix of clean_name and norm_key: NFC+lower → entity rules →
    functional rules (the 53-rule ordered regex chain — the expensive part,
    so callers that need both outputs run it once)."""
    s = nfc_lower(s)
    s = _apply_rules(s, ENTITY_RULES)
    return _apply_rules(s, FUNCTIONAL_RULES)


def _finish_clean(s: pd.Series, remove_stopwords: bool = True) -> pd.Series:
    """clean_name's tail after the canonical base: special-char strip →
    (optional) two-pass stopword removal → accent fold → whitespace
    collapse."""
    s = s.str.replace(SPECIAL_CHAR_PATTERN, ' ', regex=True)
    if remove_stopwords:
        for pat in STOPWORDS:
            s = s.str.replace(pat, '', regex=True)
        s = fold_accents(s)
        for pat in STOPWORDS_NO_ACCENT:
            s = s.str.replace(pat, '', regex=True)
    else:
        s = fold_accents(s)
    return s.str.replace(r'\s+', ' ', regex=True).str.strip()


def clean_name(s: pd.Series, remove_stopwords: bool = True) -> pd.Series:
    """Full cleaning pipeline; output is always diacritic-free.

    Parity target: ``preprocess.py:146-217`` (clean_company_name). Steps:
    NFC+lower → entity rules → functional rules → special-char strip →
    (optional) two-pass stopword removal → accent fold → whitespace collapse.
    """
    return _finish_clean(_canonical_base(s), remove_stopwords)


def clean_name_and_norm_key(s: pd.Series) -> tuple[pd.Series, pd.Series]:
    """(clean_name(s), norm_key(s)) with the shared 53-rule canonical base
    computed ONCE — halves the normalize stage's regex work versus calling
    the two functions independently. Byte-equality with the independent
    calls is pytest-asserted (tests/test_vnnorm.py)."""
    base = _canonical_base(s)
    return _finish_clean(base), fold_accents(base).str.strip()


def norm_key(s: pd.Series) -> pd.Series:
    """Deduplication/blocking key: entity+functional canonicalized, accents
    folded, stopwords KEPT, special chars KEPT.

    Parity target: the pipeline-UDF variant
    ``src/databricks/preprocessing/vietnamese_udfs.py:92-97`` (which differs
    from the matcher's norm_key — see SURVEY.md §1.3).
    """
    return fold_accents(_canonical_base(s)).str.strip()


def match_key(s: pd.Series) -> pd.Series:
    """Blocking/matching string: ``clean_name`` + match-side synonym layer +
    re-collapse. Byte-parity functions stay untouched; this is the engine's
    own canonical form (see MATCH_ALIASES)."""
    s = clean_name(s, remove_stopwords=True)
    s = _apply_rules(s, MATCH_ALIASES)
    return s.str.replace(r'\s+', ' ', regex=True).str.strip()


def has_repeated_tokens(s: pd.Series) -> pd.Series:
    """True when a cleaned name repeats a consecutive unigram (len>1) or
    bigram — the data-quality artifact penalized at scoring time.

    Parity target: ``matcher.py:26-38``. The reference compares whole
    whitespace-delimited tokens (``name.split()``), so the patterns anchor on
    ``\\S`` boundaries, not ``\\b`` (tokens may contain ``&+-``). Two
    vectorized passes total; ``str.count`` avoids pandas' capture-group
    warning on ``str.contains``.
    """
    s = _fillna(s)
    uni = s.str.count(r'(?<!\S)(\S{2,})\s+\1(?!\S)') > 0
    bi = s.str.count(r'(?<!\S)(\S+)\s+(\S+)\s+\1\s+\2(?!\S)') > 0
    return uni | bi


def extract_entity_type(s: pd.Series) -> pd.Series:
    """First entity-type token present in the cleaned name, else None.

    Parity target: ``matcher.py:15-23``. The reference checks whole-token set
    membership in specificity order; a single alternation regex can't
    reproduce that order, so we run one vectorized pass per token (8 passes),
    anchored on whitespace boundaries to match ``split()`` token semantics.
    """
    s = _fillna(s)
    out = pd.Series([None] * len(s), index=s.index, dtype=object)
    for et in ENTITY_TYPE_TOKENS:
        mask = out.isna() & (s.str.count(rf'(?<!\S){et}(?!\S)') > 0)
        out[mask] = et
    return out
