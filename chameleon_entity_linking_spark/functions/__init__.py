from chameleon_entity_linking_spark.functions.strsim import (  # noqa: F401
    jaro_winkler_batch,
)
