"""Python worker daemon for traced runs.

Spark starts it in place of `pyspark.daemon` (through the
`spark.python.daemon.module` conf the traced run sets).  Before serving
tasks it wraps the grouped-UDF kernels of `ml.linalg`, so each call
appends one line `<kernel> <wall start> <seconds>` to the file named by
`PERFBENCH_KERNEL_LOG`.  The UDF closures pickle these kernels by
reference, so the workers resolve them to the wrappers.
"""

import os
import time

from oxford_data_pipeline_spark.ml import linalg

KERNELS = ("cv_cca", "cv_pca", "ols_inference")


def _wrap(name, log_path):
    fn = getattr(linalg, name)

    def wrapper(*args, **kwargs):
        t0, p0 = time.time(), time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            line = f"{name} {t0:.6f} {time.perf_counter() - p0:.6f}\n"
            fd = os.open(log_path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
            try:
                os.write(fd, line.encode())
            finally:
                os.close(fd)

    setattr(linalg, name, wrapper)


if __name__ == "__main__":
    for kernel in KERNELS:
        _wrap(kernel, os.environ["PERFBENCH_KERNEL_LOG"])
    from pyspark.daemon import manager

    manager()
