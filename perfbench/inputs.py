"""Seeded benchmark inputs.

The engine's own generator (``synth.transcripts_at_scale``) takes no seed,
so the benchmark renders its transcripts here: the same turn shapes
(round header, model submission, filler chatter, ``observed ...`` fact
turns with a head-heavy location mix over FIPS / name / abbreviation
surface forms), with every hash salted by the seed. The rules live in the
benchmark, not the engine, so a change to the engine cannot change the
inputs it is measured on. Only the generated DataFrames reach the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smh_to_jsonld_spark.functions.dims import fips_rows
from smh_to_jsonld_spark.sources import synth

# the config dims (targets, diseases) of synth.corpus_spec are keyed by
# these round ids; transcripts must use them for the dims to join
ROUND_IDS = ("2031-01-05", "2031-02-02")
N_MODELS = 64
AGE_GROUPS = ("0-130", "0-17", "18-64", "65-130")
FILLER_WORDS = (
    "the model projects a steady rise across regions while the team reviews "
    "calibration notes and compares scenario inputs against surveillance "
    "trends observed during recent weeks of reporting data quality checks "
    "continue pending further updates"
).split()


def config_dims(spark: SparkSession, seed: int) -> tuple[DataFrame, DataFrame]:
    """(target_meta, diseases) rendered from ``synth.corpus_spec(seed)``."""
    spec = synth.corpus_spec(seed=seed)
    return synth.target_metadata_df(spark, spec), synth.diseases_df(spark, spec)


def transcripts(
    spark: SparkSession, seed: int, n_conversations: int, turns_per_conv: int,
    partitions: int,
) -> DataFrame:
    """(conv_id, turn_idx, role, text, tool, ts), a pure function of
    (seed, n_conversations, turns_per_conv): the partition count changes
    the layout, never the rows. Conversation ``c`` belongs to round
    ``ROUND_IDS[c % 2]``."""
    salt = f"s{seed}:"

    def h(col, tag: str, mod: int):
        return F.pmod(F.xxhash64(col.cast("string"), F.lit(salt + tag)), F.lit(mod))

    def pick(values, col, tag: str):
        return F.element_at(
            F.array(*[F.lit(v) for v in values]), (h(col, tag, len(values)) + 1).cast("int")
        )

    conv = (F.col("id") / turns_per_conv).cast("long")
    turn = (F.col("id") % turns_per_conv).cast("int")
    round_id = F.element_at(
        F.array(*[F.lit(r) for r in ROUND_IDS]), (F.pmod(conv, F.lit(2)) + 1).cast("int")
    )
    model_i = h(conv, "m", N_MODELS)
    model_name = F.concat(F.lit("teamX-model"), model_i.cast("string"))
    # ~60 % of location mentions name the head entity (US) in one of three
    # surface forms, the rest a state, so linking has skewed real work
    states = [(f, a, n) for f, a, n in fips_rows() if f != "US"]
    form = h(F.col("id"), "form", 3)
    state_i = (h(F.col("id"), "state", len(states)) + 1).cast("int")

    def state_form(k: int):
        return F.element_at(F.array(*[F.lit(s[k]) for s in states]), state_i)

    state = (
        F.when(form == 0, state_form(0)).when(form == 1, state_form(2)).otherwise(state_form(1))
    )
    head = F.when(form == 0, F.lit("US")).when(form == 1, F.lit("United States")).otherwise(
        F.lit("us")
    )
    loc = F.when(h(F.col("id"), "loc", 100) < 60, head).otherwise(state)
    fact_text = F.concat(
        F.lit("observed target="),
        pick(("inc hosp", "peak inc hosp", "cum hosp"), F.col("id"), "t"),
        F.lit("; location="), loc,
        F.lit("; age_group="), pick(AGE_GROUPS, F.col("id"), "a"),
        F.lit("; output_type="), pick(("quantile", "sample"), F.col("id"), "o"),
        F.lit("; scenario=A-2031-01-01; origin_date="), round_id,
        F.lit("; horizon="), (h(F.col("id"), "h", 8) + 1).cast("string"),
    )
    vocab = F.array(*[F.lit(w) for w in FILLER_WORDS])
    filler = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(40)),
            lambda i: F.element_at(
                vocab,
                (F.pmod(F.xxhash64(F.col("id"), i, F.lit(salt)), F.size(vocab)) + 1).cast("int"),
            ),
        ),
        " ",
    )
    text = (
        F.when(turn == 0, F.concat(F.lit("Round "), round_id, F.lit(" submission session.")))
        .when(
            turn == 1,
            F.concat(
                F.lit("submitting model "), model_name,
                F.lit(" version 1.0 team_abbr [teamX] model_abbr [model"),
                model_i.cast("string"), F.lit("] from team [Team X Lab]."),
            ),
        )
        .when(F.pmod(turn, F.lit(2)) == 1, filler)
        .otherwise(fact_text)
    )
    n = n_conversations * turns_per_conv
    return spark.range(0, n, 1, partitions).select(
        F.concat(F.lit(f"conv-{seed}-"), conv.cast("string")).alias("conv_id"),
        turn.alias("turn_idx"),
        F.when(turn < 2, F.lit("user"))
        .when(F.pmod(turn, F.lit(2)) == 1, F.lit("assistant"))
        .otherwise(F.lit("tool"))
        .alias("role"),
        text.alias("text"),
        F.when((turn >= 2) & (F.pmod(turn, F.lit(2)) == 0), F.lit("validate")).alias("tool"),
        (F.to_timestamp(F.lit("2031-01-05 00:00:00"))
         + F.col("id") * F.expr("INTERVAL 1 SECOND")).alias("ts"),
    )
