"""Blank-node canonicalization at scale.

Two strategies (SURVEY.md §7.3 hard part #1):

* **hash mode** (default, in kg_pipeline.canonicalize_bnodes): labels
  derived from the stable (conv_id, turn_idx) key — zero shuffle,
  zero coordination, collision-free, input-order-independent. This is
  what runs at 10^12 turns.

* **dense mode** (here): reference-parity ``_:bN`` numbering in the
  global (conv_id, turn_idx, local_seq) order. A naive
  ``row_number() over (ORDER BY ...)`` is a single-partition
  bottleneck, so this uses the classic two-phase zipWithIndex:
  range-repartition by the ordering key, count per partition, collect
  the K counts to the driver, then assign base+local offsets in one
  ordered pass per partition. The relabeling itself is a join back to
  the quads — with optional key salting for skewed remap keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jsonld_spark.operators.kg_pipeline import QUAD_COLUMNS as _QUAD_COLS


def two_phase_row_index(
    df: DataFrame, order_cols: list[str], index_col: str = "idx", num_partitions: int | None = None
) -> DataFrame:
    """Assign a dense global 0-based index in ``order_cols`` order
    without a global single-partition sort: range partition -> local
    sort -> per-partition counts to driver -> base + local position."""
    num_partitions = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = df.repartitionByRange(num_partitions, *order_cols).sortWithinPartitions(
        *order_cols
    )
    with_pid = parted.withColumn("_pid", F.spark_partition_id())
    # phase 1: tiny aggregate — K rows to the driver
    counts = {r["_pid"]: r["cnt"] for r in with_pid.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    bases, acc = {}, 0
    for pid in sorted(counts):
        bases[pid] = acc
        acc += counts[pid]

    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        list(with_pid.schema.fields) + [StructField(index_col, LongType())]
    )
    out_cols = [f.name for f in schema.fields]

    def assign(iterator):
        offset = None
        local = 0
        for pdf in iterator:
            if offset is None and len(pdf):
                offset = bases[int(pdf["_pid"].iloc[0])]
            pdf = pdf.copy()
            pdf[index_col] = range(
                (offset or 0) + local, (offset or 0) + local + len(pdf)
            )
            local += len(pdf)
            yield pdf[out_cols]

    return with_pid.mapInPandas(assign, schema).drop("_pid")


def salt_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with key salting for head-key skew (north_rule): the
    big side gets ``salt = pmod(hash(all cols), buckets)``; the small
    side is exploded ``buckets`` ways so every (key, salt) pair finds
    its match. Use when the small side is too big to broadcast and the
    key histogram is skewed beyond what AQE's skew-join splitting
    absorbs."""
    big_salted = big.withColumn("_salt", F.pmod(F.xxhash64(*big.columns), F.lit(buckets)))
    small_salted = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(buckets)]))
    )
    joined = big_salted.join(small_salted, on + ["_salt"], how)
    return joined.drop("_salt")


URDNA_SCHEMA = (
    "conv_id string, turn_idx int, graph string, subject string, predicate string, "
    "obj_kind string, obj_value string, obj_type string, obj_lang string"
)


def urdna_bnode_labels(quads: DataFrame) -> DataFrame:
    """URDNA2015 (RDFC-1.0) canonical blank-node labels, applied per
    document and made globally unique with the stable document key:
    ``_:h<md5(conv/turn)>c<N>`` where N is the document's canonical
    c14n index (kernel/canon.py implements the full W3C algorithm,
    N-degree disambiguation included).

    Scale shape: one applyInPandas over (conv_id, turn_idx) groups —
    bounded by document size, embarrassingly parallel, no cross-
    document coordination (canonicalization is per-dataset; a document
    is the dataset unit here, exactly like the default hash mode).
    Property over hash mode: labels are ISOMORPHISM-invariant — two
    structurally identical documents yield structurally identical
    labels regardless of the kernel's local counter order.
    """
    from jsonld_spark.plans.session import ensure_package_shipped

    ensure_package_shipped(quads.sparkSession)
    cols = ["graph", "subject", "predicate", "obj_kind", "obj_value",
            "obj_type", "obj_lang"]

    def relabel(pdf):
        import hashlib

        import pandas as pd

        from jsonld_spark.kernel.canon import urdna2015_mapping
        from jsonld_spark.kernel.rdf import Quad

        if not len(pdf):
            return pd.DataFrame(columns=["conv_id", "turn_idx"] + cols)
        conv_id, turn_idx = pdf["conv_id"].iloc[0], pdf["turn_idx"].iloc[0]
        doc_key = hashlib.md5(f"{conv_id}/{turn_idx}".encode()).hexdigest()
        qs = [
            Quad(None if pd.isna(r.graph) else r.graph, r.subject, r.predicate,
                 r.obj_kind, r.obj_value,
                 None if pd.isna(r.obj_type) else r.obj_type,
                 None if pd.isna(r.obj_lang) else r.obj_lang)
            for r in pdf.itertuples()
        ]
        mapping = {
            local: f"_:h{doc_key}c{canon[len('_:c14n'):]}"
            for local, canon in urdna2015_mapping(qs).items()
        }

        def m(v):
            return mapping.get(v, v)

        rows = [
            (conv_id, turn_idx,
             None if q.graph is None else m(q.graph), m(q.subject), q.predicate,
             q.obj_kind, m(q.obj_value) if q.obj_kind == "iri" else q.obj_value,
             q.obj_type, q.obj_lang)
            for q in qs
        ]
        return pd.DataFrame(rows, columns=["conv_id", "turn_idx"] + cols)

    return quads.groupBy("conv_id", "turn_idx").applyInPandas(relabel, URDNA_SCHEMA)


DATASET_URDNA_SCHEMA = (
    "comp string, graph string, subject string, predicate string, "
    "obj_kind string, obj_value string, obj_type string, obj_lang string, "
    "s_n int, o_n int, g_n int, fp string"
)


def urdna_dataset_labels(quads: DataFrame) -> DataFrame:
    """DATASET-level URDNA2015 (VERDICT r2 #6): isomorphism-invariant
    canonical blank-node labels for a merged quad stream with NO
    document key — ``Graph.merge``-style unions, where per-document
    canonicalization (urdna_bnode_labels) no longer applies.

    Shape: (1) connected components over bnode co-occurrence (two
    bnodes sharing a quad are connected) via operators/components.py;
    (2) the exact kernel URDNA2015 per component (applyInPandas —
    bounded by component size, the bnode-connected unit, never by
    corpus size); (3) labels ``_:d<fp>r<K>c<N>`` where ``fp`` is the
    sha256 of the component's canonical N-Quads (isomorphism-
    invariant), ``N`` the within-component canonical index, and ``K``
    a rank disambiguating byte-identical fingerprints — isomorphic
    components are interchangeable, so ANY rank assignment yields the
    same output quad SET, making the result independent of merge
    order. Ground quads (no bnodes) pass through untouched.
    """
    from jsonld_spark.operators.components import connected_components
    from jsonld_spark.plans.session import ensure_package_shipped

    ensure_package_shipped(quads.sparkSession)
    q = quads.select(*_QUAD_COLS)
    is_bn = {
        "subject": F.col("subject").startswith("_:"),
        "obj_value": (F.col("obj_kind") == "iri") & F.col("obj_value").startswith("_:"),
        "graph": F.col("graph").startswith("_:"),
    }
    bn = {k: F.when(v, F.col(k)) for k, v in is_bn.items()}
    # any bnode position routes the quad — all of a quad's bnodes are
    # one component by construction (they co-occur in this quad)
    anchor = F.coalesce(bn["subject"], bn["obj_value"], bn["graph"])
    q = q.withColumn("_anchor", anchor)
    ground = q.where(F.col("_anchor").isNull()).select(*_QUAD_COLS)
    bquads = q.where(F.col("_anchor").isNotNull()).localCheckpoint()

    zero = F.lit("").alias("key")
    nodes = bquads.select(
        zero, F.explode(F.array_compact(F.array(*bn.values()))).alias("node")
    ).distinct()
    pos_pairs = [("subject", "obj_value"), ("subject", "graph"), ("obj_value", "graph")]
    edges = None
    for a, b in pos_pairs:
        e = bquads.where(is_bn[a] & is_bn[b]).select(
            zero, F.col(a).alias("a"), F.col(b).alias("b"))
        edges = e if edges is None else edges.unionByName(e)
    comp = connected_components(nodes, edges).drop("key")

    routed = bquads.join(
        comp.select(F.col("node").alias("_anchor"), F.col("label").alias("comp")),
        "_anchor",
    ).drop("_anchor")

    def relabel(pdf):
        import hashlib

        import pandas as pd

        from jsonld_spark.kernel.canon import canonical_nquads, urdna2015_mapping
        from jsonld_spark.kernel.rdf import Quad

        comp_id = pdf["comp"].iloc[0]
        qs = [
            Quad(None if pd.isna(r.graph) else r.graph, r.subject, r.predicate,
                 r.obj_kind, r.obj_value,
                 None if pd.isna(r.obj_type) else r.obj_type,
                 None if pd.isna(r.obj_lang) else r.obj_lang)
            for r in pdf.itertuples()
        ]
        mapping = {local: int(canon[len("_:c14n"):])
                   for local, canon in urdna2015_mapping(qs).items()}
        fp = hashlib.sha256(canonical_nquads(qs).encode()).hexdigest()[:32]

        def n_of(value, bnode_ok):
            return mapping.get(value) if bnode_ok and isinstance(value, str) \
                and value.startswith("_:") else None

        rows = [
            (comp_id, q_.graph, q_.subject, q_.predicate, q_.obj_kind,
             q_.obj_value, q_.obj_type, q_.obj_lang,
             n_of(q_.subject, True), n_of(q_.obj_value, q_.obj_kind == "iri"),
             n_of(q_.graph, True), fp)
            for q_ in qs
        ]
        return pd.DataFrame(rows, columns=[
            "comp", "graph", "subject", "predicate", "obj_kind", "obj_value",
            "obj_type", "obj_lang", "s_n", "o_n", "g_n", "fp"])

    # materialized: both the rank window (via comps) and the final join
    # consume it — without this the per-component URDNA2015 stage
    # (worst-case exponential N-degree search) would execute twice
    relabeled = routed.groupBy("comp").applyInPandas(
        relabel, DATASET_URDNA_SCHEMA
    ).localCheckpoint()

    comps = relabeled.select("comp", "fp").distinct()
    w = Window.partitionBy("fp").orderBy("comp")
    ranked = comps.withColumn("rank", F.row_number().over(w))

    def lbl(term, n_col):
        return F.when(
            F.col(n_col).isNotNull(),
            F.concat(F.lit("_:d"), F.col("fp"), F.lit("r"), F.col("rank"),
                     F.lit("c"), F.col(n_col)),
        ).otherwise(F.col(term))

    final = relabeled.join(ranked, ["comp", "fp"]).select(
        lbl("graph", "g_n").alias("graph"),
        lbl("subject", "s_n").alias("subject"),
        "predicate", "obj_kind",
        lbl("obj_value", "o_n").alias("obj_value"),
        "obj_type", "obj_lang",
    )
    return ground.unionByName(final)


def dense_bnode_labels(quads: DataFrame, order_cols=("conv_id", "turn_idx")) -> DataFrame:
    """Reference-parity relabeling: document-local ``_:bK`` labels get
    dense global ``_:bN`` numbers in (conv_id, turn_idx, K) order —
    byte-identical to running the single-process kernel over the
    documents in that order (Processor.php:2069-2079 semantics).
    """
    order_cols = list(order_cols)
    is_bn = F.col("subject").startswith("_:") | (
        (F.col("obj_kind") == "iri") & F.col("obj_value").startswith("_:")
    ) | F.col("graph").startswith("_:")

    # distinct local labels with their first-visit order key: the local
    # counter K encodes in-document order, so (order_cols, K) is total
    locals_ = (
        quads.where(is_bn)
        .select(
            *order_cols,
            F.explode(
                F.array_compact(
                    F.array(
                        F.when(F.col("subject").startswith("_:"), F.col("subject")),
                        F.when(
                            (F.col("obj_kind") == "iri")
                            & F.col("obj_value").startswith("_:"),
                            F.col("obj_value"),
                        ),
                        F.when(F.col("graph").startswith("_:"), F.col("graph")),
                    )
                )
            ).alias("local_label"),
        )
        .distinct()
        .withColumn("local_seq", F.expr("CAST(substring(local_label, 4) AS INT)"))
    )
    mapping = two_phase_row_index(
        locals_, order_cols + ["local_seq"], index_col="global_idx"
    ).select(
        *order_cols,
        "local_label",
        F.concat(F.lit("_:b"), F.col("global_idx")).alias("global_label"),
    )

    # Apply the relabeling in ONE cogrouped pass per document: labels
    # are document-scoped, so cogrouping quads with their document's
    # mapping rows relabels all three bnode positions with a single
    # shuffle of each side — the round-1 version joined the full quad
    # table three times (one shuffle per bnode position, VERDICT.md
    # round-1 "What's wrong" #5). Group size is bounded by document
    # size, like every other per-document stage.
    out_schema = quads.schema
    out_cols = [f.name for f in out_schema.fields]

    def relabel(key, quads_pdf, mapping_pdf):
        repl = dict(zip(mapping_pdf["local_label"], mapping_pdf["global_label"]))
        if repl:
            quads_pdf = quads_pdf.copy()
            for col in ("subject", "graph"):
                quads_pdf[col] = quads_pdf[col].map(lambda v: repl.get(v, v))
            # a LITERAL whose lexical form looks like "_:bN" must not be
            # touched (the round-1 join had the same hazard unguarded)
            is_iri = quads_pdf["obj_kind"] == "iri"
            quads_pdf.loc[is_iri, "obj_value"] = quads_pdf.loc[is_iri, "obj_value"].map(
                lambda v: repl.get(v, v)
            )
        return quads_pdf[out_cols]

    return (
        quads.groupBy(*order_cols)
        .cogroup(mapping.groupBy(*order_cols))
        .applyInPandas(relabel, out_schema)
    )
