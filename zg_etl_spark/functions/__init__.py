from zg_etl_spark.functions.expr_compiler import (
    ExprCompiler,
    ExpressionError,
)

__all__ = ["ExprCompiler", "ExpressionError"]
