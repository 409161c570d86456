"""Chat-transcript operators for instruction-tuning data prep.

SFT corpora arrive as per-row conversations — an ordered list of
(role, content) turns — and every pipeline runs the same two steps
before training: VALIDATE the turn structure (roles well-formed,
strict user/assistant alternation, no empty turns, assistant-final)
and RENDER the surviving conversations through a chat template into
the flat training string.

Both are expressed over a ``array<struct<role:string,
content:string>>`` column with Spark's higher-order array functions
(transform / exists / aggregate / element_at) — per-row array
lambdas, no UDF, no explode/re-group shuffle.  Note the engine
caveat recorded in SURVEY §7: higher-order lambdas evaluate on the
interpreted expression walker, not codegen — acceptable here because
conversations are short arrays (tens of turns) and the alternative
(posexplode + window + re-aggregate) pays a shuffle per check; for
corpus-scale turn analytics, explode once and aggregate instead.

The validation spec (mirrored by the DuckDB oracle twin):
- ``starts_ok``     — first role is 'system' or 'user'
- ``alternates``    — after an optional leading system turn, roles
                      are exactly user, assistant, user, ... (strict
                      alternation, user first)
- ``no_empty``      — every content is non-blank after trim
- ``ends_assistant``— last role is 'assistant'
- ``valid``         — all of the above, plus at least one
                      non-system turn
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def chat_valid_flags(chat: Column) -> Column:
    """Struct column of the five validation flags for a
    conversation (see module docstring for the spec)."""
    # F.get (0-based) is null-safe on empty arrays, where ANSI-mode
    # element_at raises INVALID_INDEX
    first_role = F.get(chat, 0)["role"]
    last_role = F.get(chat, F.size(chat) - 1)["role"]
    n = F.size(chat)
    has_system = first_role == "system"
    # offset of the first non-system turn (1-based): 2 iff a system
    # head, else 1; turn j (0-based within the body) must be 'user'
    # for even j, 'assistant' for odd j.
    body_start = F.when(has_system, F.lit(2)).otherwise(F.lit(1))
    body_len = n - body_start + 1
    idx = F.sequence(body_start, n)
    alternates = F.when(body_len <= 0, F.lit(False)).otherwise(
        F.forall(
            idx,
            lambda i: F.element_at(chat, i.cast("int"))["role"]
            == F.when(
                F.pmod(i - body_start, 2) == 0, F.lit("user")
            ).otherwise(F.lit("assistant")),
        )
    )
    starts_ok = (n > 0) & first_role.isin("system", "user")
    no_empty = (n > 0) & ~F.exists(
        chat, lambda t: F.trim(F.coalesce(t["content"], F.lit(""))) == ""
    )
    ends_assistant = (n > 0) & (last_role == "assistant")
    valid = starts_ok & alternates & no_empty & ends_assistant
    return F.struct(
        starts_ok.alias("starts_ok"),
        alternates.alias("alternates"),
        no_empty.alias("no_empty"),
        ends_assistant.alias("ends_assistant"),
        valid.alias("valid"),
    )


# ChatML turn delimiters; the DuckDB oracle interpolates them.
CHATML_START = "<|im_start|>"
CHATML_END = "<|im_end|>"


def render_chat(chat: Column) -> Column:
    """Flatten a conversation through the ChatML template:
    ``<|im_start|>role\\ncontent<|im_end|>`` per turn, newline-joined —
    the training-text string an SFT loader consumes."""
    return F.array_join(
        F.transform(
            chat,
            lambda t: F.concat(
                F.lit(CHATML_START),
                t["role"],
                F.lit("\n"),
                F.coalesce(t["content"], F.lit("")),
                F.lit(CHATML_END),
            ),
        ),
        "\n",
    )


def chat_report(
    df: DataFrame, chat_col: str = "chat", id_col: str = "doc_id"
) -> DataFrame:
    """Per-conversation audit row: turn counts, the validation
    flags, and the rendered-template size — one projection, no
    shuffle (ordering left to the caller)."""
    chat = F.col(chat_col)
    flags = chat_valid_flags(chat)
    rendered = render_chat(chat)
    return df.select(
        F.col(id_col),
        F.size(chat).cast("int").alias("n_turns"),
        F.size(
            F.filter(chat, lambda t: t["role"] != "system")
        ).cast("int").alias("n_body_turns"),
        flags["starts_ok"].alias("starts_ok"),
        flags["alternates"].alias("alternates"),
        flags["no_empty"].alias("no_empty"),
        flags["ends_assistant"].alias("ends_assistant"),
        flags["valid"].alias("valid"),
        F.length(rendered).cast("long").alias("n_render_chars"),
        F.substring(rendered, 1, 48).alias("render_head"),
    )
