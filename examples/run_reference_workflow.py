"""End-to-end walkthrough: everything a user of the reference pipeline
runs today, on this engine.

    python examples/run_reference_workflow.py [output_dir]

Covers the reference's three entry points (SURVEY §3) on the synthetic
domain fixtures: the single-session compute pipeline, the
cross-trial-type analysis, the GLM chain, and the cross-session
reports, writing S5/S6/S7 outputs to `output_dir`.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from oxford_data_pipeline_spark.pipeline import PipelineConfig, run_session_pipeline
from oxford_data_pipeline_spark.pipeline.cross_condition import run_cross_condition
from oxford_data_pipeline_spark.pipeline.fixtures import LABELS, generate_fixtures
from oxford_data_pipeline_spark.pipeline.glm_stage import (
    glm_fit,
    glm_summary,
    significant_neurons,
)
from oxford_data_pipeline_spark.pipeline.reports import (
    connectivity_matrix,
    max_r2_summary,
)
from oxford_data_pipeline_spark.session import get_spark
from oxford_data_pipeline_spark.sources.sinks import (
    write_json_report,
    write_partitioned,
    write_text_summary,
)


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="oxford_")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("reference-workflow")
    from oxford_data_pipeline_spark.pipeline.fixtures import test_config
    cfg = test_config()

    print("== generating domain fixtures (3 sessions) ==")
    fx = generate_fixtures(spark)

    print("== Entry A: single-session compute pipeline ==")
    a = run_session_pipeline(
        fx["firing_rates"], fx["trial_events"], fx["neurons"], cfg
    )
    write_partitioned(a["psth"], os.path.join(out_dir, "psth"), ["session"])
    write_partitioned(a["cca_r2"], os.path.join(out_dir, "cca_r2"), ["session"])
    print("  psth rows:", a["psth"].count(),
          "| significant components:", a["significant_components"].count())

    print("== Entry B: cross-trial-type analysis ==")
    b = run_cross_condition(
        fx["firing_rates"], fx["trial_events"], a["sampled_neurons"],
        a["cca_weights"], cfg, LABELS,
    )
    aligned = b["aligned_stats"]
    write_json_report(
        aligned.orderBy("trial_type", "pair_r1", "pair_r2", "side", "component", "t")
        .limit(200),
        os.path.join(out_dir, "aligned_stats_sample.json"),
    )
    print("  aligned time-course rows:", aligned.count(),
          "| flip decisions:", b["flip_decisions"].count())

    print("== GLM chain ==")
    glm = glm_fit(a["projections"], a["segmented"], a["sampled_neurons"]).cache()
    write_text_summary(
        glm_summary(glm).orderBy(F.col("pair_r1").asc_nulls_last()),
        os.path.join(out_dir, "glm_summary.txt"),
        "GLM summary (per pair + overall rollup)",
    )
    print("  coefficient rows:", glm.count(),
          "| significant neurons:", significant_neurons(glm).count())

    print("== Entry C: cross-session reports ==")
    write_text_summary(
        connectivity_matrix(a["cca_r2"]).orderBy("row_idx", "col_idx"),
        os.path.join(out_dir, "connectivity_matrix.txt"),
        "Rank-1 connectivity matrix (mean±std CV-R² across sessions)",
    )
    write_text_summary(
        max_r2_summary(a["cca_r2"]).orderBy("pair_r1", "pair_r2"),
        os.path.join(out_dir, "max_r2_summary.txt"),
        "Max-R² population summary",
    )

    print("== Entry C figures as ready-to-plot CSVs ==")
    from oxford_data_pipeline_spark.pipeline.figure_reports import (
        write_figure_reports,
    )

    fig_paths = write_figure_reports(
        a["cca_r2"], a["projection_avg"], os.path.join(out_dir, "figures")
    )
    for name, p in sorted(fig_paths.items()):
        print("  figure table:", name, "->", p)

    from oxford_data_pipeline_spark.pipeline.svg_figures import write_figure_svgs

    svg_paths = write_figure_svgs(
        a["cca_r2"], a["projection_avg"], os.path.join(out_dir, "figures")
    )
    for name, p in sorted(svg_paths.items()):
        print("  figure SVG:", name, "->", p)

    from oxford_data_pipeline_spark.pipeline.svg_figures import write_variance_svg

    print("  variance figure:",
          write_variance_svg(a["pca_variance"], os.path.join(out_dir, "figures")))

    print("== GLM sensitivity curves as SVG ==")
    from oxford_data_pipeline_spark.pipeline.glm_stage import sensitivity_grid
    from oxford_data_pipeline_spark.pipeline.svg_figures import (
        write_sensitivity_svg,
    )

    grid = sensitivity_grid(
        a["projections"], a["segmented"], a["sampled_neurons"],
        pcts=[0, 25, 50, 75], mc_iters=2,
    )
    print("  sensitivity figure:",
          write_sensitivity_svg(grid, os.path.join(out_dir, "figures")))

    print("== M19: rastermap-style raster ordering ==")
    from oxford_data_pipeline_spark.operators.rastersort import rastersort_order

    order = rastersort_order(a["psth"])
    write_partitioned(order, os.path.join(out_dir, "raster_order"), ["session"])
    print("  ordered neurons:", order.count())

    print("  outputs in:", out_dir)
    for f in sorted(os.listdir(out_dir)):
        print("   -", f)


if __name__ == "__main__":
    main()
