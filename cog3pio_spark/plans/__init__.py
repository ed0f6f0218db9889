"""Pipeline compositions (SURVEY §3.4 engine lifecycle)."""

from cog3pio_spark.plans.flagship import flagship_pipeline, media_spans  # noqa: F401
