# Kept only because kgbench/workloads.py does `import kg_build`; it goes once kgbench imports the package.
from crossbar_data_process_spark.plans.gold import build_gold, to_gold_shape  # noqa: F401
from crossbar_data_process_spark.sources.synthetic import gen_sources  # noqa: F401
