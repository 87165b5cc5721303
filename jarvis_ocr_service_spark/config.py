"""Engine constants.

Values mirror the reference configuration semantics (app/config.py:62-68,
app/tier_mapping.py:4-26) — they are data contracts, not code. The
reference's retry budget and retryable-code taxonomy are given up: the
cascade is total and emits only non-retryable codes, and Spark task
retries cover executor transients.
"""

# Output text cap: extracted text is truncated to this many UTF-8 *bytes*
# (reference: OCR_MAX_TEXT_BYTES, app/config.py:62).
MAX_TEXT_BYTES = 51_200

# Minimum stripped character count for text to be considered valid
# (reference: OCR_MIN_VALID_CHARS, app/config.py:63).
MIN_VALID_CHARS = 3

# Validation reasons / error messages are capped to 200 chars
# (reference: app/provider_manager.py:234-236, worker.py:212).
MAX_REASON_CHARS = 200

# Default language when none supplied (reference: OCR_LANGUAGE_DEFAULT).
LANGUAGE_DEFAULT = "en"

# --- Tier chain -------------------------------------------------------------
# The reference's cost-ordered provider cascade (app/tier_mapping.py:18-26).
# Our deterministic engine keeps the same ordered *slots*; the deterministic
# tiers are backed by real extractors, the platform/LLM slots stay
# "unavailable" (exactly like a provider whose is_available() is False —
# worker.py:159-161) so the fallback semantics remain testable.
DEFAULT_TIER_ORDER = [
    "tesseract",      # tier-1 analog: fast raw text strip (cheapest)
    "easyocr",        # tier-2 analog: main-content block scoring
    "paddleocr",      # tier-3 analog: layout-aware parse (PDF branch)
    "rapidocr",       # unavailable slot (deferred-heavy engine)
    "apple_vision",   # unavailable slot (platform-specific)
    "llm_local",      # unavailable slot (nondeterministic external)
    "llm_cloud",      # unavailable slot (nondeterministic external)
]

# Tiers with a deterministic local implementation in this engine.
AVAILABLE_TIERS = ["tesseract", "easyocr", "paddleocr"]


# --- Error taxonomy ---------------------------------------------------------
# (reference: worker.py:29-51, prds/queue-flow.md:438-456)
ERR_UNSUPPORTED_MEDIA = "unsupported_media"
ERR_NOT_FOUND = "image_not_found"
ERR_NO_VALID_OUTPUT = "ocr_no_valid_output"

# Canonical messages (reference worker.py:95-100, 248-264).
MSG_PDF_UNSUPPORTED = "PDF files are not supported in v1"
MSG_ALL_TIERS_FAILED = "All tiers failed validation"
MSG_EMPTY_PAYLOAD = "Empty payload: no bytes to extract"


# --- Validator heuristics (deterministic analog of the LLM validity check,
# reference app/provider_manager.py:165-249) ---------------------------------
# A word of >=4 chars containing no vowel counts as "garbled".
GARBLED_WORD_MIN_LEN = 4
# If more than this fraction of words are garbled -> invalid.
GARBLED_RATIO_MAX = 0.30
# Lines shorter than this many chars count as "navigation-like".
SHORT_LINE_CHARS = 15
# If more than this fraction of lines are short -> link-farm / boilerplate.
SHORT_LINE_RATIO_MAX = 0.50
# Minimum alphabetic-character ratio.
ALPHA_RATIO_MIN = 0.40
