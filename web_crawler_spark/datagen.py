"""Distributed builders for the URL universe and the images payload table
(FIXTURES.md §1).

Generation is executor-side (explode + mapInPandas over the pure-function core)
so the same code produces the 200-URL pytest universe and a multi-million-row
bench universe without driver memory pressure; nothing is random at runtime —
all content is keyed on (seed, url).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .core import imagecodec, webgen
from .functions.udfs import row_stage
from .schemas import IMAGES_SCHEMA


def urls_df(spark: SparkSession, cfg: webgen.WebConfig, partitions: int = 32) -> DataFrame:
    """All universe URLs as a DataFrame, generated by explode (no driver list)."""
    hosts = spark.createDataFrame(
        list(zip(cfg.hosts, cfg.pages_per_host)), "host string, n int"
    )
    return (
        hosts.select("host", F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("i"))
        .select(F.concat(F.lit("http://"), "host", F.lit("/p/"), "i").alias("url"), "host")
        .repartition(partitions, "url")
    )


def images_df(spark: SparkSession, cfg: webgen.WebConfig, partitions: int = 32) -> DataFrame:
    """The payload table — exact input_hint shape, one image per universe URL."""
    gen = row_stage(functools.partial(_image_rows, cfg), IMAGES_SCHEMA)
    return urls_df(spark, cfg, partitions).mapInPandas(gen, IMAGES_SCHEMA)


def _image_rows(cfg: webgen.WebConfig, r) -> list[dict]:
    """Generator row: the captioned image of universe URL ``r.url``."""
    iid = webgen.image_id_of(r.url, cfg)
    row = imagecodec.image_row(iid, cfg.seed)
    row["caption"] = webgen.caption_of(iid, cfg)
    return [row]

