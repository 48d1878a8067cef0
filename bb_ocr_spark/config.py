"""Frozen extraction-rule constants — the single source of truth.

Both the distributed Spark pipeline (operators/extract.py) and the
single-node Python oracle (oracle.py) implement EXACTLY these rules, so
span-sequence equality (kind, text, media_ref, order) is decidable.

The classifier mirrors the reference's main-content heuristics:
  - link-density block classification (analog of the area-band contour
    filter / block classifier at
    reference pipeline_demo/extractor/enhanced_extractor.py:239-372);
  - empty-text skip (enhanced_extractor.py:689,706-707);
  - length cap on per-span text kept for downstream context
    (max_ocr_chars_per_image=330, enhanced_extractor.py:103,126).

All regexes are ASCII-only so Java (Spark) and Python `re` semantics agree.
"""

# --- boilerplate / main-content classifier -------------------------------
# A span is DROPPED when any of:
#   kind == 'boilerplate'                      (pre-labelled template region)
#   kind == 'text' and text is null/blank      (empty-text filter, P4)
#   kind == 'text' and link_density  > LINK_DENSITY_MAX
#   kind == 'text' and alpha_density < ALPHA_DENSITY_MIN
# link_density  = (# tokens matching LINK_TOKEN_RE) / (# tokens)
# alnum_density = (# [a-zA-Z0-9] chars) / (# non-whitespace chars)
# (alnum, not alpha: ISBN/price/year lines are digit-heavy CONTENT — an
# alpha-only rule silently drops every metadata-bearing span)
LINK_TOKEN_RE = r"^(https?://\S*|href=\S*|[|]|[>»]|\[nav\])$"
# same token alternatives as LINK_TOKEN_RE, fenced by whitespace/edge
# lookarounds so occurrences can be COUNTED in one pass over the raw string
# (Java regex; Python re can't do variable-width lookbehind — the oracle
# keeps the split-token form, goldens enforce equivalence)
LINK_TOKEN_COUNT_RE = (
    r"(?<=^|[ \t\n\r])"
    r"(https?://[^ \t\n\r]*|href=[^ \t\n\r]*|\||[>»]|\[nav\])"
    r"(?=$|[ \t\n\r])"
)
# every alternative of LINK_TOKEN_COUNT_RE (and LINK_TOKEN_RE) contains one
# of these substrings, so a text holding none of them has no link token and
# the count can be skipped (operators/extract.py guards on them)
LINK_TOKEN_MARKERS = ("http", "href=", "|", ">", "»", "[nav]")
LINK_DENSITY_MAX = 0.30
ALNUM_DENSITY_MIN = 0.50
# token split regex (ASCII whitespace run)
TOKEN_SPLIT_RE = r"[ \t\n\r]+"

# --- normalization (F2) ---------------------------------------------------
# kept text spans are whitespace-squeezed + trimmed before emission
WS_SQUEEZE_RE = r"[ \t\n\r]+"
# a text holding none of these substrings, and neither starting nor ending
# with " ", is already normal: strip and squeeze leave it unchanged
WS_NORMALIZE_TRIGGERS = ("\t", "\n", "\r", "  ")

# --- length cap (P3) — spans longer than this are still EMITTED in the
# sequence but truncated text is never produced; the cap applies to the
# metadata-extraction context assembly only (mirrors the reference which
# drops long OCR text from the LLM prompt, not from the OCR output).
MAX_CONTEXT_CHARS_PER_SPAN = 330

# --- heuristic metadata extractor (U9) regexes ---------------------------
# mirrors reference pipeline_demo/hueristics/book_extractor.py:11-29
ISBN13_RE = r"\b(97[89][- ]?[0-9][- ]?[0-9]{2,5}[- ]?[0-9]{2,5}[- ]?[0-9])\b"
ISBN10_RE = r"\b([0-9][- ]?[0-9]{2,5}[- ]?[0-9]{2,5}[- ]?[0-9]{1,5}[- ]?[0-9Xx])\b"
YEAR_RE = r"\b((?:18|19|20)[0-9]{2})\b"
PUBLISHER_RE = r"\b([A-Z][A-Za-z]+ (?:Press|Books|Publishing|Publishers|House))\b"
PRICE_RE = r"[$]([0-9]+(?:[.][0-9]{2})?)\b"

GENRE_KEYWORDS = {
    "fiction": ["novel", "story", "tales", "fiction"],
    "science": ["science", "physics", "biology", "chemistry"],
    "history": ["history", "war", "ancient", "century"],
    "technology": ["computer", "software", "data", "engineering"],
}

# --- HTML tokenizer / block classifier (north_star main-content rule) ----
# blocks split on block-level tags; per block: media spans from <img src>,
# then the tag-stripped text span unless anchor-word link density exceeds
# LINK_DENSITY_HTML_MAX (boilerpipe-style rule). Flat markup only (the
# deterministic generator emits no nested anchors), ASCII regexes.
BLOCK_TAG_RE = r"</?(?:p|div|br|h[1-6]|li|ul|ol|tr|table|footer|nav)[^>]*>"
IMG_SRC_RE = r"<img src=\"([^\"]+)\"[^>]*>"
ANCHOR_TEXT_RE = r"<a [^>]*>([^<]*)</a>"
ANY_TAG_RE = r"<[^>]*>"
LINK_DENSITY_HTML_MAX = 0.34

# --- skew handling --------------------------------------------------------
# when the input arrives as exploded span rows (operators/assemble.py),
# rows of docs with more spans than this spread over ASSEMBLY_SALT_BUCKETS
# phase-1 buckets; every other doc's rows share one bucket
BIG_DOC_SPAN_THRESHOLD = 512
ASSEMBLY_SALT_BUCKETS = 16

SEED = 42
