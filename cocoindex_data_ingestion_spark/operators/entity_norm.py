"""Entity/relationship normalization: the reference's deterministic
post-LLM layer, as pure Column expressions.

Reference behavior:
- 19-type entity vocabulary + synonym table + keyword hints with
  CONCEPT default (app/flows/entity_extraction_runner_v2.py:361-567,
  ``normalize_entity_type``). Note: the reference also probes the
  synonym table with the lower-cased raw type, but its keys are all
  upper-case so that branch is dead code — not reproduced.
- 20-type relationship vocabulary with alias canonicalization and
  RELATES_TO default (app/utils/relationship_types.py:8-56,
  ``canonicalize_relationship_type``).
- Dash/NBSP normalization + offset realignment for LLM mention spans
  (entity_extraction_runner_v2.py:1050-1080 ``_normalize_for_alignment``
  + the adjustment loop at :1880-1951): accept the claimed [start,end)
  if the segment matches the mention verbatim or after normalization,
  else re-locate the normalized mention in the normalized text
  (exact, then case-insensitive), else drop the mention.

Everything here is whole-stage-codegen-able (CASE/translate/instr) —
no UDFs — and every builder has a DuckDB SQL twin generated from the
SAME Python tables so the oracle can't drift from the Spark logic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# -- vocabularies (entity_extraction_runner_v2.py:361-567) --------------------

ALLOWED_ENTITY_TYPES = (
    "PERSON", "ORGANIZATION", "LOCATION", "DATE", "PRODUCT", "COMPONENT",
    "TECHNOLOGY", "CHEMICAL", "PROCEDURE", "SPECIFICATION", "SYSTEM",
    "MEASUREMENT", "PROBLEM", "CONDITION", "STATE", "TOOL", "MATERIAL",
    "CONCEPT", "EVENT",
)

TYPE_SYNONYMS = {
    "NOUN_PHRASE": "CONCEPT",
    "NOUNPHRASE": "CONCEPT",
    "PHRASE": "CONCEPT",
    "ACTION": "PROCEDURE",
    "PROCESS": "PROCEDURE",
    "SYMPTOM": "PROBLEM",
    "ISSUE": "PROBLEM",
    "ERROR": "PROBLEM",
    "FAILURE": "PROBLEM",
    "MALFUNCTION": "PROBLEM",
    "EQUIPMENT": "TOOL",
    "SUPPLY": "MATERIAL",
    "CONSUMABLE": "MATERIAL",
}

# dict order is load-bearing: the reference returns the FIRST target
# whose keyword list matches
KEYWORD_HINTS = {
    "MATERIAL": [
        "alcohol", "solvent", "lubricant", "cloth", "towel", "microfiber",
        "pad", "wipes", "wipe", "lint-free", "compound", "chemical",
        "cleaner",
    ],
    "TOOL": ["screwdriver", "brush", "applicator", "tool", "software",
             "application"],
    "COMPONENT": ["connector", "cable", "display", "screen", "module",
                  "assembly", "sensor"],
    "PROBLEM": ["corrosion", "flicker", "failure", "issue", "fault", "error"],
    "PROCEDURE": ["cleaning", "wipe", "install", "inspection", "calibration",
                  "step"],
    "TECHNOLOGY": ["protocol", "platform", "system", "framework"],
    "CHEMICAL": ["acid", "alcohol", "solvent", "adhesive"],
}

DEFAULT_ENTITY_TYPE = "CONCEPT"

# -- relationship vocabulary (app/utils/relationship_types.py:8-56) -----------

DEFAULT_RELATIONSHIP_TYPE = "RELATES_TO"

RELATIONSHIP_TYPES_CANONICAL = (
    "COMPONENT_OF", "CONNECTED_TO", "DEPENDS_ON", "USES", "OWNED_BY",
    "RESPONSIBLE_FOR", "CAUSES", "PREVENTS", "IMPACTS", "MITIGATES",
    "DEFINES", "DESCRIBES", "DOCUMENTS", "REFERENCES", "REPLACES",
    "COMPATIBLE_WITH", "CONFLICTS_WITH", "MONITORS", "MEASURES",
    DEFAULT_RELATIONSHIP_TYPE,
)

RELATIONSHIP_TYPE_ALIASES = {
    "may cause": "CAUSES",
    "cause": "CAUSES",
    "causes": "CAUSES",
    "helps prevent": "MITIGATES",
    "helps prevent removal": "MITIGATES",
    "helps prevent removal of": "MITIGATES",
    "prevents removal of": "MITIGATES",
    "prevents": "PREVENTS",
    "reduces": "MITIGATES",
    "used to clean": "USES",
    "used for cleaning": "USES",
    "used for": "USES",
    "contains": "COMPONENT_OF",
    "contain": "COMPONENT_OF",
    "contained in": "COMPONENT_OF",
    "located in": "COMPONENT_OF",
    "located_in": "COMPONENT_OF",
    "emits noise from": "CAUSES",
    "emits_noise_from": "CAUSES",
    "noise amplified when": "IMPACTS",
    "noise_amplified_when": "IMPACTS",
    "supports": "RESPONSIBLE_FOR",
    "support": "RESPONSIBLE_FOR",
}

# -- dash/nbsp normalization (entity_extraction_runner_v2.py:1050-1080) -------

_DASH_CHARS = "‐‑‒–—−"
_NBSP = " "


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ---------------------------------------------------------------- Spark side


def normalize_entity_type(
    raw_type: Column | str, mention_text: Column | str
) -> Column:
    """Reference ``normalize_entity_type``: uppercase/underscore the
    raw type → allowed? synonym? → keyword hints over the mention
    text (first matching target wins) → CONCEPT."""
    raw = _c(raw_type)
    norm = F.upper(F.translate(F.trim(raw), "- ", "__"))
    text_lower = F.lower(F.coalesce(_c(mention_text), F.lit("")))

    hint = F.lit(DEFAULT_ENTITY_TYPE)
    for target, kws in reversed(list(KEYWORD_HINTS.items())):
        cond = None
        for kw in kws:
            c = text_lower.contains(kw)
            cond = c if cond is None else (cond | c)
        hint = F.when(cond, F.lit(target)).otherwise(hint)

    syn = None
    for k, v in TYPE_SYNONYMS.items():
        branch = F.when(norm == k, F.lit(v))
        syn = branch if syn is None else syn.when(norm == k, F.lit(v))

    return (
        F.when(raw.isNotNull() & norm.isin(*ALLOWED_ENTITY_TYPES), norm)
        .when(raw.isNotNull() & syn.isNotNull(), syn)
        .otherwise(hint)
    )


def canonicalize_relationship_type(value: Column | str) -> Column:
    """Reference ``canonicalize_relationship_type``: alias table on
    the lower-cased label, else sanitized upper-snake membership in
    the canonical vocabulary, else RELATES_TO."""
    trimmed = F.trim(_c(value))
    lower = F.lower(trimmed)

    alias = None
    for k, v in RELATIONSHIP_TYPE_ALIASES.items():
        branch = F.when(lower == k, F.lit(v))
        alias = branch if alias is None else alias.when(lower == k, F.lit(v))

    sanitized = F.regexp_replace(
        F.regexp_replace(F.upper(trimmed), "[^A-Z0-9]", "_"), "^_+|_+$", ""
    )
    return (
        F.when(trimmed.isNull() | (trimmed == ""), F.lit(DEFAULT_RELATIONSHIP_TYPE))
        .when(alias.isNotNull(), alias)
        .when(
            sanitized.isin(*RELATIONSHIP_TYPES_CANONICAL), sanitized
        )
        .otherwise(F.lit(DEFAULT_RELATIONSHIP_TYPE))
    )


def normalize_for_alignment(col: Column | str) -> Column:
    """Unicode dashes → '-', NBSP → ' ' (the reference's
    ``_DASH_TRANSLATION``)."""
    return F.translate(_c(col), _DASH_CHARS + _NBSP, "------ ")


def realign_mentions(
    df: DataFrame,
    text_col: str = "text",
    mention_col: str = "mention",
    start_col: str = "start_offset",
    end_col: str = "end_offset",
) -> DataFrame:
    """Validate/repair claimed mention offsets against the document
    text (reference adjustment loop, entity_extraction_runner_v2.py:
    1880-1951). Output: input columns with corrected ``start_offset``/
    ``end_offset`` plus ``align`` in {verbatim, normalized, relocated,
    relocated_ci}; unalignable mentions are dropped.

    Offsets are 0-based, end-exclusive, in the ORIGINAL text (the
    normalization is 1:1 on length, so positions transfer)."""
    text, mention = F.col(text_col), F.col(mention_col)
    start, end = F.col(start_col), F.col(end_col)
    mlen = F.length(mention)
    seg = F.substring(text, start + 1, end - start)
    ntext = normalize_for_alignment(text)
    nmention = normalize_for_alignment(mention)
    valid_range = (
        start.isNotNull() & (start >= 0) & (end > start)
        & (end <= F.length(text))
    )
    # instr/locate are 1-based; 0 = not found
    pos_exact = F.expr(f"instr({text_col}_n, {mention_col}_n)")
    pos_ci = F.expr(f"instr(lower({text_col}_n), lower({mention_col}_n))")

    out = (
        df.withColumn(f"{text_col}_n", ntext)
        .withColumn(f"{mention_col}_n", nmention)
        .withColumn(
            "align",
            F.when(valid_range & (seg == mention), F.lit("verbatim"))
            .when(
                valid_range & (normalize_for_alignment(seg) == nmention),
                F.lit("normalized"),
            )
            .when(pos_exact > 0, F.lit("relocated"))
            .when(pos_ci > 0, F.lit("relocated_ci")),
        )
        .filter(F.col("align").isNotNull())
        .withColumn(
            start_col,
            F.when(F.col("align").isin("verbatim", "normalized"), start)
            .when(F.col("align") == "relocated", pos_exact - 1)
            .otherwise(pos_ci - 1),
        )
        .withColumn(end_col, F.col(start_col) + mlen)
        .drop(f"{text_col}_n", f"{mention_col}_n")
    )
    return out


# ------------------------------------------------------------ DuckDB twins


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def normalize_entity_type_sql(raw_type: str, mention_text: str) -> str:
    """DuckDB CASE expression generated from the same tables."""
    norm = f"upper(translate(trim({raw_type}), '- ', '__'))"
    text_lower = f"lower(coalesce({mention_text}, ''))"
    allowed = ", ".join(_sql_quote(t) for t in ALLOWED_ENTITY_TYPES)
    syn_branches = " ".join(
        f"WHEN {norm} = {_sql_quote(k)} THEN {_sql_quote(v)}"
        for k, v in TYPE_SYNONYMS.items()
    )
    hint_branches = " ".join(
        "WHEN "
        + " OR ".join(
            f"contains({text_lower}, {_sql_quote(kw)})" for kw in kws
        )
        + f" THEN {_sql_quote(target)}"
        for target, kws in KEYWORD_HINTS.items()
    )
    hints = f"CASE {hint_branches} ELSE {_sql_quote(DEFAULT_ENTITY_TYPE)} END"
    return (
        f"CASE WHEN {raw_type} IS NOT NULL AND {norm} IN ({allowed}) THEN {norm} "
        f"WHEN {raw_type} IS NOT NULL AND (CASE {syn_branches} END) IS NOT NULL "
        f"THEN (CASE {syn_branches} END) "
        f"ELSE {hints} END"
    )


def canonicalize_relationship_type_sql(value: str) -> str:
    trimmed = f"trim({value})"
    lower = f"lower({trimmed})"
    alias_branches = " ".join(
        f"WHEN {lower} = {_sql_quote(k)} THEN {_sql_quote(v)}"
        for k, v in RELATIONSHIP_TYPE_ALIASES.items()
    )
    alias = f"CASE {alias_branches} END"
    sanitized = (
        f"regexp_replace(regexp_replace(upper({trimmed}), "
        f"'[^A-Z0-9]', '_', 'g'), '^_+|_+$', '', 'g')"
    )
    canon = ", ".join(_sql_quote(t) for t in RELATIONSHIP_TYPES_CANONICAL)
    return (
        f"CASE WHEN {trimmed} IS NULL OR {trimmed} = '' "
        f"THEN {_sql_quote(DEFAULT_RELATIONSHIP_TYPE)} "
        f"WHEN ({alias}) IS NOT NULL THEN ({alias}) "
        f"WHEN {sanitized} IN ({canon}) THEN {sanitized} "
        f"ELSE {_sql_quote(DEFAULT_RELATIONSHIP_TYPE)} END"
    )
