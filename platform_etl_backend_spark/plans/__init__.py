from platform_etl_backend_spark.plans.inspect import explain_str

__all__ = ["explain_str"]
