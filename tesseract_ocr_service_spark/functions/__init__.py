"""Pure numpy/pyarrow building blocks of the extraction kernel.

Everything in this package is Spark-free and deterministic; the Spark
layer (`..operators`) feeds the kernel Arrow batches via ``mapInArrow``
and takes its Arrow batches back as they are.
"""
