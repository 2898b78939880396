"""Structured-Streaming drains (streaming/kg.py, ann.py, sketch.py):
each micro-batch writes its own partition, and the merged store must
equal a batch run over the unioned input."""

import os


def test_stream_ivf_index_matches_batch_assignment(spark, tmp_path):
    """Streaming IVF maintenance: embeddings streamed in micro-batches
    land in the same cells a batch recompute assigns; the accumulated
    store feeds ivf_topk identically to a batch-built corpus; and a
    cell filter prunes to that cell's partitions only."""
    import json as _json
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                   StructField, StructType)

    from bern2_spark.dataprep.similarity import (ivf_assign,
                                                 ivf_centroids, ivf_topk)
    from bern2_spark.streaming.ann import read_ivf_index, stream_ivf_index

    dim, n_cells = 8, 4
    rng = random.Random(7)
    vecs = [(i, [round(rng.uniform(-1, 1), 4) for _ in range(dim)])
            for i in range(30)]
    inp = str(tmp_path / "in")
    os.makedirs(inp)
    for b in range(3):  # 3 micro-batches of 10
        p = os.path.join(inp, f"b{b}.json")
        with open(p, "w") as f:
            for i, v in vecs[b * 10:(b + 1) * 10]:
                f.write(_json.dumps({"vec_id": i, "embedding": v}) + "\n")
        os.utime(p, (1000000 + b, 1000000 + b))

    cents = ivf_centroids(n_cells, dim)
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType()))])
    idx_dir = str(tmp_path / "index")
    stream_ivf_index(spark, inp, idx_dir, cents, schema)

    store = read_ivf_index(spark, idx_dir)
    batch_df = spark.createDataFrame(vecs, schema)
    want = {(r.vec_id, r.cell) for r in
            ivf_assign(batch_df, cents).collect()}
    got = {(r.vec_id, r.cell) for r in store.collect()}
    assert got == want and len(got) == 30

    # the accumulated store answers queries identically to batch IVF
    queries = spark.createDataFrame(vecs[:3], schema)
    a = ivf_topk(store.select("vec_id", "embedding"), queries, k=3,
                 dim=dim, centroids=cents)
    b = ivf_topk(batch_df, queries, k=3, dim=dim, centroids=cents)
    key = lambda r: (r.query_id, r.rank)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    # partition pruning: the cell filter lands in PartitionFilters
    # (inputFiles() reflects the unpruned listing, so read the plan)
    one = store.filter(F.col("cell") == 2)
    plan = one._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "cell" in pf[0] and "= 2" in pf[0], plan


def test_stream_kmv_sketch_merges_to_batch_answer(spark, tmp_path):
    """Streaming KMV: (a) the merge-on-read estimate over N micro-
    batches equals the batch kmv_distinct over the union of all rows,
    value for value (sketch mergeability); (b) re-writing one batch's
    minima (replay) leaves the estimate unchanged (idempotent merge)."""
    import json as _json

    from pyspark.sql.types import StringType, StructField, StructType

    from bern2_spark.dataprep.sketch import kmv_distinct
    from bern2_spark.streaming.sketch import (
        read_kmv_estimate, stream_kmv_sketch,
    )

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(inp)
    rows = []
    for i in range(300):
        lang = ["en", "fr", "de"][i % 3]
        rows.append({"lang": lang, "text": f"doc {lang} {i % 110}"})
    for b in range(3):  # 3 files -> 3 micro-batches (maxFilesPerTrigger=1)
        with open(os.path.join(inp, f"f{b}.json"), "w") as f:
            for r in rows[b * 100:(b + 1) * 100]:
                f.write(_json.dumps(r) + "\n")
    schema = StructType([StructField("lang", StringType()),
                         StructField("text", StringType())])

    stream_kmv_sketch(spark, inp, out, schema, k=16)
    got = {r["lang"]: r["kmv_distinct"]
           for r in read_kmv_estimate(spark, out, k=16).collect()}
    full = spark.createDataFrame([(r["lang"], r["text"]) for r in rows],
                                 "lang string, text string")
    want = {r["lang"]: r["kmv_distinct"]
            for r in kmv_distinct(full, "text", "lang", k=16).collect()}
    assert got == want and set(got) == {"en", "fr", "de"}

    # replay: duplicate batch 0's minima into a fake extra batch dir —
    # union + k-min absorbs the duplicates, estimate unchanged
    m0 = spark.read.parquet(os.path.join(out, "mins", "batch=0"))
    (m0.write.mode("overwrite").format("parquet")
     .save(os.path.join(out, "mins", "batch=99")))
    again = {r["lang"]: r["kmv_distinct"]
             for r in read_kmv_estimate(spark, out, k=16).collect()}
    assert again == got


def test_stream_kg_triples_matches_batch_and_replays(spark, tmp_path):
    """The full KG pipeline over a document stream: the union of all
    micro-batch triples must equal a single batch run over the unioned
    corpus (the pipeline is per-doc independent), and replaying a
    micro-batch must rewrite identical output."""
    import json as _json

    from pyspark.sql.types import (StringType, StructField, StructType)

    from bern2_spark.corpus import make_documents, make_lexicon
    from bern2_spark.pipeline import run_pipeline
    from bern2_spark.streaming.kg import (read_stream_triples,
                                          stream_kg_triples)

    lex = make_lexicon(seed=42, per_type=40)
    docs = make_documents(n_docs=30, seed=42, lexicon=lex)
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    os.makedirs(inp)
    cols = ["repo", "path", "commit", "lang", "content"]
    schema = StructType([StructField(c, StringType()) for c in cols])
    # three micro-batches of 10 docs
    for i in range(3):
        p = os.path.join(inp, f"b{i}.json")
        with open(p, "w") as f:
            for row in docs[i * 10:(i + 1) * 10]:
                f.write(_json.dumps(dict(zip(cols, row))) + "\n")
        os.utime(p, (1000000 + i, 1000000 + i))
    stream_kg_triples(spark, inp, out, schema, lex)
    streamed = read_stream_triples(spark, out)
    got = sorted(tuple(r) for r in streamed.drop("batch").collect())

    with run_pipeline(spark.createDataFrame(docs, schema), lex,
                      spark=spark) as result:
        want = sorted(tuple(r) for r in result.triples.collect())
    assert got == want and len(want) > 0

    # replay batch 1 by hand: identical triples rewritten
    before = sorted(tuple(r) for r in
                    streamed.filter("batch = 1").drop("batch").collect())
    b1 = spark.createDataFrame(docs[10:20], schema)
    with run_pipeline(b1, lex, spark=spark) as redo:
        (redo.triples.write.mode("overwrite").format("parquet")
         .save(os.path.join(out, "triples", "batch=1")))
    after = sorted(tuple(r) for r in
                   read_stream_triples(spark, out)
                   .filter("batch = 1").drop("batch").collect())
    assert after == before


def test_stream_code_kg_merges_to_batch(spark, tmp_path):
    """Code triples aggregate per (repo, entity) and a repo's files can
    straddle micro-batches — the merge-on-read sum must equal the batch
    pipeline over the union, and replaying a batch must rewrite
    identical partials."""
    import json as _json
    import os

    from bern2_spark.dataprep.codekg import (code_triples, extract_defs,
                                             extract_imports)
    from bern2_spark.streaming.kg import read_code_triples, stream_code_kg

    cols = ["repo", "path", "commit_sha", "lang", "content"]
    # r1 straddles batches 0 and 1 with the SAME import (numpy): the
    # partial n_mentions/n_files must sum, not collide
    batches = [
        [("r1", "a.py", "c1", "python", "import numpy\nimport flask\n"),
         ("r2", "b.py", "c2", "python", "import numpy\ndef go():\n")],
        [("r1", "c.py", "c3", "python", "import numpy\ndef run():\n")],
        [("r3", "d.go", "c4", "go", 'import "acme/x"\nfunc H() {\n')],
    ]
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    os.makedirs(inp)
    for i, rows in enumerate(batches):
        p = os.path.join(inp, f"b{i}.json")
        with open(p, "w") as f:
            for row in rows:
                f.write(_json.dumps(dict(zip(cols, row))) + "\n")
        os.utime(p, (1000000 + i, 1000000 + i))
    schema = ", ".join(f"{c} string" for c in cols)
    stream_code_kg(spark, inp, out, schema)
    got = sorted(tuple(r) for r in read_code_triples(spark, out).collect())

    union = spark.createDataFrame(sum(batches, []), cols)
    want = sorted(tuple(r) for r in code_triples(
        extract_imports(union), extract_defs(union)).collect())
    assert got == want and len(want) > 0
    # the straddling repo really did split: r1 imports numpy in 2 files
    assert ("repo:r1", "imports", "pkg:numpy", 2, 2) in got

    # replay batch 1 by hand: identical partials rewritten
    part_dir = os.path.join(out, "code_triples", "batch=1")
    before = sorted(tuple(r) for r in
                    spark.read.parquet(part_dir).collect())
    b1 = spark.createDataFrame(batches[1], cols)
    (code_triples(extract_imports(b1), extract_defs(b1))
     .write.mode("overwrite").format("parquet").save(part_dir))
    after = sorted(tuple(r) for r in
                   spark.read.parquet(part_dir).collect())
    assert after == before
