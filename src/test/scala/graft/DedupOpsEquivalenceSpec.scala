package graft

import graft.operators.{DedupOps, TextOps}

/** Maintenance ≡ rebuild for the persisted dedup artifacts: every
  * O(delta) path over the evidence base and the component index must
  * return exactly what a full rebuild over the changed corpus computes
  * (the registry's oracles replay the full derivation in DuckDB; these
  * specs add the within-engine proof on fixtures built to hit each
  * change class), and the local component finish must agree with the
  * distributed one.
  */
class DedupOpsEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  test("dupEvidenceBaseDelta ≡ full rebuild on a fixture that exercises " +
       "df-guard REMOVALS (component split) and bridge MERGES") {
    import graft.operators.DedupOps
    // X family: 50 old docs sharing a 7-token prefix — the prefix's two
    // fully-shared winnow windows give every X pair n_shared = 2, and the
    // shared fingerprints sit at df = 50, EXACTLY the guard ceiling. The
    // 20-token unique suffixes keep minhash minima doc-specific, so the X
    // pairs are winnow-only edges.
    val xDocs = (0L until 50L).map { i =>
      val suffix = (0 until 20).map(k => s"x${i}q$k").mkString(" ")
      (i, s"alpha beta gamma delta epsilon zeta eta $suffix")
    }
    // Y family: 3 old docs identical up to the last token — LSH band
    // collisions (minhash edges), a separate component
    val yDocs = (60L until 63L).map { i =>
      (i, s"quick brown fox jumps over the lazy dog again and again forever y$i")
    }
    // delta: one more X doc (pushes the shared fingerprints to df = 51 —
    // OVER the guard, removing every X winnow edge: a component split into
    // singletons) and one bridge doc carrying both templates (added edges
    // that MERGE what remains with Y)
    val delta = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta " +
        (0 until 20).map(k => s"x100q$k").mkString(" ")),
      (101L, "alpha beta gamma delta epsilon zeta eta " +
        "quick brown fox jumps over the lazy dog again and again forever y101"))
    val mkDocs = (rows: Seq[(Long, String)]) => rows
      .map { case (id, tx) => (id, tx, "en", "t", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val grown = mkDocs(xDocs ++ yDocs ++ delta).localCheckpoint()
    val cutoff = 100L
    val oldDocs = grown.filter($"doc_id" < cutoff)
    val oldBase = DedupOps.dupEvidenceBase(oldDocs,
      DedupOps.minhashCandidatePairs(oldDocs),
      graft.operators.TextOps.winnowOverlapPairs(oldDocs)).localCheckpoint()
    val oldPrints = DedupOps.winnowPrintIndex(oldDocs).localCheckpoint()
    val oldBands = DedupOps.lshBands(oldDocs).localCheckpoint()
    val deltaBase = DedupOps.dupEvidenceBaseDelta(
      oldBase, oldPrints, oldBands, grown, cutoff)
    val rebuilt = DedupOps.dupEvidenceBase(grown,
      DedupOps.minhashCandidatePairs(grown),
      graft.operators.TextOps.winnowOverlapPairs(grown))
    assert(rows(deltaBase) == rows(rebuilt),
      "incremental base must equal the full rebuild row-for-row")
    // the fixture really exercised both change classes
    val st = DedupOps.dupEvidenceStaleness(
      oldBase, oldPrints, oldBands, grown, cutoff).collect()(0)
    assert(st.getAs[Long]("n_removed") > 0L,
      s"expected df-guard removals, got $st")
    assert(st.getAs[Long]("n_added") > 0L, s"expected added pairs, got $st")
  }

  test("an empty change set is the identity: dupEvidenceBaseDelta with no " +
       "doc at or above the cutoff and dupEvidenceBaseShrink with nothing " +
       "removed each return the old base row for row") {
    // a winnow family (shared 7-token prefix, unique suffixes) and a band
    // family (identical up to the last token): two components, both edge
    // kinds in the base
    val xDocs = (0L until 5L).map { i =>
      (i, "alpha beta gamma delta epsilon zeta eta " +
        (0 until 20).map(k => s"x${i}q$k").mkString(" "))
    }
    val yDocs = (10L until 13L).map(i =>
      (i, s"quick brown fox jumps over the lazy dog again and again forever y$i"))
    val docs = (xDocs ++ yDocs)
      .map { case (id, tx) => (id, tx, "en", "t", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars").localCheckpoint()
    val oldBase = DedupOps.dupEvidenceBase(docs,
      DedupOps.minhashCandidatePairs(docs),
      TextOps.winnowOverlapPairs(docs)).localCheckpoint()
    val prints = DedupOps.winnowPrintIndex(docs).localCheckpoint()
    val bands = DedupOps.lshBands(docs).localCheckpoint()
    val before = rows(oldBase)
    assert(before.map(_(2)).distinct.size == 2, s"two components expected: $before")
    assert(before.exists(_(4) != 0L) && before.exists(_(5) != 0L),
      s"band and winnow readings expected: $before")
    val appended = DedupOps.dupEvidenceBaseDelta(oldBase, prints, bands, docs,
      cutoff = 100L)
    assert(rows(appended) == before, "an append of no docs must keep the base")
    val shrunk = DedupOps.dupEvidenceBaseShrink(oldBase, prints, bands, docs,
      Seq.empty[Long].toDF("doc_id"))
    assert(rows(shrunk) == before, "a delete of no docs must keep the base")
  }

  test("dupComponentsLocal ≡ dupComponents (string and long ids: chain, " +
       "triangle, disjoint pairs), and the edge cap fails loudly") {
    import graft.operators.DedupOps
    // a 4-chain (diameter > 1), a triangle, a disjoint pair
    val sPairs = Seq(("b", "c"), ("c", "d"), ("d", "e"), ("x", "y"),
      ("y", "z"), ("x", "z"), ("q", "r")).toDF("doc_a", "doc_b")
    assert(rows(DedupOps.dupComponentsLocal(sPairs)) ==
           rows(DedupOps.dupComponents(sPairs)))
    assert(rows(DedupOps.dupComponentsLocal(sPairs)) ==
           rows(DedupOps.dupComponents(sPairs, localCap = 0)))
    val lPairs = Seq((2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    assert(rows(DedupOps.dupComponentsLocal(lPairs)) ==
           rows(DedupOps.dupComponents(lPairs)))
    assert(rows(DedupOps.dupComponentsLocal(lPairs)) ==
           rows(DedupOps.dupComponents(lPairs, localCap = 0)))
    val e = intercept[IllegalArgumentException] {
      DedupOps.dupComponentsLocal(lPairs, maxEdges = 3)
    }
    assert(e.getMessage.contains("broadcast-scale"), e.getMessage)
  }

  test("componentIndexDelta ≡ full dupComponents rebuild: merge fixture " +
       "(a bridge doc joins two old components) and sf0.001 90%+10%") {
    import graft.operators.DedupOps
    // two old near-dup families (identical text up to the last token →
    // band collisions), one delta doc carrying both templates: the
    // bridge merges the two components under the smaller family's min
    val mk = (rows: Seq[(Long, String)]) => rows
      .map { case (id, tx) => (id, tx, "en", "t", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val fam1 = (0L until 3L).map(i =>
      (i, s"quick brown fox jumps over the lazy dog again and again forever f$i"))
    val fam2 = (10L until 13L).map(i =>
      (i, s"pack my box with five dozen liquor jugs every single day always z$i"))
    // near-copies of each family (only the tail token differs → band
    // collisions guaranteed): both old components get contracted and
    // relabeled through the supernode map, and the delta docs enter
    // through the fresh-node path
    val bridge = Seq(
      (100L, "quick brown fox jumps over the lazy dog again and again forever f100"),
      (101L, "pack my box with five dozen liquor jugs every single day always z101"))
    val grown = mk(fam1 ++ fam2 ++ bridge).localCheckpoint()
    val cutoff = 100L
    val oldDocs = grown.filter($"doc_id" < cutoff)
    val oldLabels = DedupOps.dupComponents(
      DedupOps.minhashCandidatePairs(oldDocs)).localCheckpoint()
    val delta = DedupOps.componentIndexDelta(oldLabels,
      DedupOps.lshBands(oldDocs).localCheckpoint(), grown, cutoff)
    val rebuilt = DedupOps.dupComponents(DedupOps.minhashCandidatePairs(grown))
    assert(rows(delta) == rows(rebuilt),
      "incremental component index must equal the full rebuild")
    // the fresh-node + relabel paths really ran: the bridge doc entered
    // the index (band-collided with at least one family, whose old
    // component got contracted through the supernode map)
    assert(delta.filter($"doc_id" === 100L).count() == 1L,
      "fixture expects the bridge doc to join the index")
    // sf0.001, the registry's gate shape
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val n = docs.count(); val cut = n - n / 10
    val od = docs.filter($"doc_id" < cut)
    val d2 = DedupOps.componentIndexDelta(
      DedupOps.dupComponents(DedupOps.minhashCandidatePairs(od)).localCheckpoint(),
      DedupOps.lshBands(od).localCheckpoint(), docs, cut)
    val r2 = DedupOps.dupComponents(DedupOps.minhashCandidatePairs(docs))
    assert(rows(d2) == rows(r2),
      "sf0.001 incremental component index must equal the full rebuild")
  }

  test("componentIndexShrink: a removed cut-vertex SPLITS its component " +
       "(survivors re-pair from the band index or drop); untouched " +
       "components keep labels; sf0.001 ≡ full rebuild on survivors") {
    import graft.operators.DedupOps
    // synthetic band index pins the mechanism exactly: doc 1 is the cut
    // vertex (shares k1 with 0 and 3, k2 with 2). Removing it leaves
    // {0, 3} still paired through k1 (component keeps min 0), doc 2
    // pair-less (drops — a full rebuild drops singletons), and the
    // untouched {10, 11} family labeled as before.
    val bands = Seq(
      (0L, 0, "k1"), (1L, 0, "k1"), (3L, 0, "k1"),
      (1L, 1, "k2"), (2L, 1, "k2"),
      (10L, 2, "k9"), (11L, 2, "k9"))
      .toDF("doc_id", "band", "band_key")
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 0L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "component")
    val removed = Seq(Tuple1(1L)).toDF("doc_id")
    val got = DedupOps.componentIndexShrink(labels, bands, removed)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    assert(got == Seq((0L, 0L), (3L, 0L), (10L, 10L), (11L, 10L)),
      s"split semantics: ${got.mkString(",")}")
    // sf0.001, the registry's gate shape: full-corpus artifacts, 10%
    // removed, shrink ≡ re-clustering the survivors
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val full = DedupOps.dupComponents(
      DedupOps.minhashCandidatePairs(docs)).localCheckpoint()
    val shrunk = DedupOps.componentIndexShrink(full,
      DedupOps.lshBands(docs).localCheckpoint(),
      docs.filter($"doc_id" % 10 === 3).select($"doc_id"))
    val survivors = docs.filter($"doc_id" % 10 =!= 3)
    val rebuilt = DedupOps.dupComponents(DedupOps.minhashCandidatePairs(survivors))
    assert(rows(shrunk) == rows(rebuilt),
      "shrunk component index must equal the survivor rebuild")
  }

  test("dupEvidenceBaseShrink ≡ full rebuild on survivors at sf0.001, and " +
       "a df guard-ENTRY fixture proves deletions ADD pairs (52 holders " +
       "→ 49 crosses into the (1,50] window)") {
    import graft.operators.{DedupOps, TextOps}
    // sf0.001, the registry's gate shape: 10% removed by doc_id % 10
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val removed = docs.filter($"doc_id" % 10 === 3).select($"doc_id")
    val survivors = docs.filter($"doc_id" % 10 =!= 3)
    val oldBase = DedupOps.dupEvidenceBase(docs,
      DedupOps.minhashCandidatePairs(docs),
      TextOps.winnowOverlapPairs(docs)).localCheckpoint()
    val shrunk = DedupOps.dupEvidenceBaseShrink(oldBase,
      DedupOps.winnowPrintIndex(docs).localCheckpoint(),
      DedupOps.lshBands(docs).localCheckpoint(), docs, removed)
    val rebuilt = DedupOps.dupEvidenceBase(survivors,
      DedupOps.minhashCandidatePairs(survivors),
      TextOps.winnowOverlapPairs(survivors))
    assert(rows(shrunk) == rows(rebuilt),
      "shrunk base must equal the survivor rebuild row-for-row")
    // guard-entry fixture: 52 docs share a 20-token sentence (fp df = 52
    // > 50 → winnow-suppressed); removing 3 holders lands df at 49,
    // inside the guard — pairs must APPEAR on deletion
    val cs = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val fix = (0 until 52).map { i =>
      val filler = (0 until 40).map(j => s"w${i}x$j").mkString(" ")
      (i.toLong, s"$cs $filler", "en", "t", 100L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars").localCheckpoint()
    val rem2 = Seq(49L, 50L, 51L).toDF("doc_id")
    val base2 = DedupOps.dupEvidenceBase(fix,
      DedupOps.minhashCandidatePairs(fix),
      TextOps.winnowOverlapPairs(fix)).localCheckpoint()
    val shr2 = DedupOps.dupEvidenceBaseShrink(base2,
      DedupOps.winnowPrintIndex(fix).localCheckpoint(),
      DedupOps.lshBands(fix).localCheckpoint(), fix, rem2).localCheckpoint()
    val surv2 = fix.filter(!$"doc_id".isin(49L, 50L, 51L))
    val reb2 = DedupOps.dupEvidenceBase(surv2,
      DedupOps.minhashCandidatePairs(surv2),
      TextOps.winnowOverlapPairs(surv2))
    assert(rows(shr2) == rows(reb2),
      "guard-entry shrink must equal the survivor rebuild")
    val addedCnt = shr2.select("doc_a", "doc_b")
      .except(base2.select("doc_a", "doc_b")).count()
    assert(addedCnt > 0,
      "df 52 → 49 must cross into the (1,50] guard and ADD pairs — " +
      "deletion from this base is not a subset operation")
  }

  test("dupEvidenceBaseDelta ≡ full rebuild at sf0.001 (90% snapshot + " +
       "10% append, the registry's gate shape)") {
    import graft.operators.DedupOps
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val n = docs.count()
    val cutoff = n - n / 10
    val oldDocs = docs.filter($"doc_id" < cutoff)
    val oldBase = DedupOps.dupEvidenceBase(oldDocs,
      DedupOps.minhashCandidatePairs(oldDocs),
      graft.operators.TextOps.winnowOverlapPairs(oldDocs)).localCheckpoint()
    val deltaBase = DedupOps.dupEvidenceBaseDelta(oldBase,
      DedupOps.winnowPrintIndex(oldDocs).localCheckpoint(),
      DedupOps.lshBands(oldDocs).localCheckpoint(), docs, cutoff)
    val rebuilt = DedupOps.dupEvidenceBase(docs,
      DedupOps.minhashCandidatePairs(docs),
      graft.operators.TextOps.winnowOverlapPairs(docs))
    assert(rows(deltaBase) == rows(rebuilt),
      "incremental base must equal the full rebuild row-for-row")
  }
}
