from projetos_etl_spark.plans.inspect import (  # noqa: F401
    codegen_stage_count,
    explain_str,
    has_operator,
    op_counts,
    partition_filters,
    plan_nodes,
    pushed_filters,
    read_schemas,
)
