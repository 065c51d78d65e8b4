from cloud_data_quality_spark.compiler.binding import (  # noqa: F401
    CompiledBinding,
    CompiledRule,
    EntityQuery,
    compile_binding,
    compile_entity,
)
from cloud_data_quality_spark.compiler.dialect import bq_to_spark_sql  # noqa: F401
