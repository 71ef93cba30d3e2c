from docling_jobkit_spark.sinks.writers import (  # noqa: F401
    write_bucketed,
    write_training_shards,
)
