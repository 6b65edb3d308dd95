"""Spark-side wrappers of the kernels: Arrow UDFs (`udfs`), built-in
column expressions (`exprs`) and the SQL function registry (`sql`)."""
