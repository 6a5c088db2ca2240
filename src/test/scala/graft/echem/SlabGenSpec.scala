package graft.echem

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Dataset

/** Miller-oriented slab geometry: golden comparison against a slab the
  * reference pipeline actually produced (pymatgen SlabGenerator,
  * `dags/my_dag.py:84-99`), plus frame-independent invariants for the
  * other facets.
  */
class SlabGenSpec extends SparkSpec {

  private def readSlab(rel: String): Schemas.Slab = {
    val p = fixturePath(s"slab_golden/$rel")
    PoscarCodec.parse(
      Paths.get(p).getFileName.toString.stripSuffix(".poscar"),
      new String(Files.readAllBytes(Paths.get(p)), "UTF-8"))
  }

  private def dot(u: Seq[Double], v: Seq[Double]): Double =
    u.lazyZip(v).map(_ * _).sum
  private def norm(u: Seq[Double]): Double = math.sqrt(dot(u, u))

  test("golden: (111) in-plane lattice matches the reference slab (mp-755394)") {
    val bulk = readSlab("mp-755394.poscar")
    val ref = readSlab("mp-755394-111-3.poscar")
    val got = SlabGen.cut(bulk, "111", nShifts = 1).head

    // the two lattices live in different cartesian frames (pymatgen
    // rotates its slabs); compare the rotation-invariant in-plane
    // geometry: |a|, |b|, and the angle between them
    def invariants(l: Seq[Seq[Double]]): (Double, Double, Double) =
      (norm(l(0)), norm(l(1)), dot(l(0), l(1)) / (norm(l(0)) * norm(l(1))))
    val (ra, rb, rg) = invariants(ref.lattice)
    val (ga, gb, gg) = invariants(got.lattice)
    assert(math.abs(ga - ra) / ra < 1e-6, s"|a|: got $ga, reference $ra")
    assert(math.abs(gb - rb) / rb < 1e-6, s"|b|: got $gb, reference $rb")
    assert(math.abs(gg - rg) < 1e-6, s"cos(gamma): got $gg, reference $rg")
  }

  test("in-plane basis lies in the (hkl) plane; stacking vector leaves it") {
    val bulk = readSlab("mp-755394.poscar")
    for (facet <- Seq("100", "110", "111")) {
      val miller = facet.map(_.asDigit)
      // a lattice combo v is in plane (hkl) iff v·(h,k,l) = 0 — exact
      // integer arithmetic, frame-independent
      val s = SlabGen.millerScaleFactors(miller, bulk.lattice)
      for (row <- Seq(s(0), s(1)))
        assert(row.lazyZip(miller).map(_ * _).sum == 0,
          s"facet $facet: scale factor $row not in the ($miller) plane")
      assert(s(2).lazyZip(miller).map(_ * _).sum != 0,
        s"facet $facet: stacking vector ${s(2)} lies in the surface plane")

      // canonical slab frame: a along +x, b in xy, normal along +z —
      // makes the reference's diagonal-product area formula exact
      val l = SlabGen.cut(bulk, facet, nShifts = 1).head.lattice
      assert(math.abs(l(0)(1)) < 1e-12 && math.abs(l(0)(2)) < 1e-12)
      assert(math.abs(l(1)(2)) < 1e-12)
      assert(l(0)(0) > 0 && l(1)(1) > 0 && l(2)(2) > 0,
        s"facet $facet: canonical frame not right-handed-positive: $l")
    }
  }

  test("oriented-cell stacking preserves atom bookkeeping") {
    val bulk = readSlab("mp-755394.poscar")
    for (facet <- Seq("100", "110", "111"); layers <- Seq(1, 3)) {
      val slabs = SlabGen.cut(bulk, facet, nShifts = 3, layers = layers)
      assert(slabs.length == 3)
      slabs.foreach { s =>
        assert(s.positions.length == s.counts.sum,
          s"facet $facet: ${s.positions.length} atoms vs counts ${s.counts}")
        assert(s.positions.length % (bulk.positions.length * layers) == 0)
        // fractional coordinates legal, species grouped per header
        s.positions.foreach(a => Seq(a.x, a.y, a.z).foreach(c =>
          assert(c >= 0.0 && c < 1.0, s"fractional coord $c out of range")))
        val grouped = s.species.lazyZip(s.counts).flatMap((sp, n) => Seq.fill(n)(sp))
        assert(s.positions.map(_.element) == grouped,
          s"facet $facet: positions not grouped by species header order")
      }
      // distinct terminations move the atoms
      assert(slabs.map(_.positions.map(a => (a.x, a.y, a.z))).distinct.length == 3)
    }
  }

  test("non-digit facet strings fail loudly — asDigit is radix-36 and '-' is -1") {
    // "1-1" (a negative Miller index spelled as a string) and "1a1"
    // (typo → 10) would otherwise silently cut a DIFFERENT
    // crystallographic plane under the bogus key (r13 review)
    val bulk = readSlab("mp-755394.poscar")
    for (bad <- Seq("1-1", "1a1", "")) {
      val e1 = intercept[IllegalArgumentException](SlabGen.cut(bulk, bad, 1))
      assert(e1.getMessage.contains("decimal digits"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](
        SlabGen.cutTerminations(bulk, bad))
      assert(e2.getMessage.contains("decimal digits"), e2.getMessage)
    }
    assert(SlabGen.cut(bulk, "111", 1).head.positions.nonEmpty) // valid path untouched
  }

  test("golden: distinct-termination counts match the reference slab sets") {
    // the reference produced exactly these slab files per bulk×facet
    // (`ls output/slab_poscars/`): enumeration + StructureMatcher
    // dedup inside `get_slabs(symmetrize=True)`, dags/my_dag.py:84-99
    val counts = Map("mp-755394" -> 7, "mp-1393040" -> 3)
    counts.foreach { case (id, expected) =>
      val slabs = SlabGen.cutTerminations(readSlab(s"$id.poscar"), "111")
      assert(slabs.length == expected,
        s"$id-111: got ${slabs.length} terminations, reference produced $expected")
      // key contract {id}-{facet}-{i} with ascending-shift ordinals
      assert(slabs.map(_.mpKey) == (0 until expected).map(i => s"$id-111-$i"))
    }
  }

  test("termination slabs keep the atom bookkeeping of the fixed fan-out") {
    val bulk = readSlab("mp-755394.poscar")
    SlabGen.cutTerminations(bulk, "111").foreach { s =>
      assert(s.positions.length == s.counts.sum)
      s.positions.foreach(a => Seq(a.x, a.y, a.z).foreach(c =>
        assert(c >= 0.0 && c < 1.0, s"fractional coord $c out of range")))
      val grouped = s.species.lazyZip(s.counts).flatMap((sp, n) => Seq.fill(n)(sp))
      assert(s.positions.map(_.element) == grouped)
    }
    // terminations are genuinely distinct surfaces
    val all = SlabGen.cutTerminations(bulk, "111")
    assert(all.map(_.positions.map(a => (a.x, a.y, a.z))).distinct.length == all.length)
  }

  test("flip-equivalent terminations collapse (mp-1393040: 12 layers -> 3 slabs)") {
    // the hexagonal V2O4 bulk has 12 distinct z-layers in the (111)
    // oriented cell; in-plane translation pairs them to 6 and the
    // upside-down flip to 3 — dropping either equivalence would
    // overcount what pymatgen's StructureMatcher collapses
    val bulk = readSlab("mp-1393040.poscar")
    val slabs = SlabGen.cutTerminations(bulk, "111")
    assert(slabs.length == 3)
  }

  test("symmetricOnly filters to two-faced-identical slabs, never widens") {
    for (id <- Seq("mp-755394", "mp-1393040")) {
      val bulk = readSlab(s"$id.poscar")
      val all = SlabGen.cutTerminations(bulk, "111")
      val sym = SlabGen.cutTerminations(bulk, "111", symmetricOnly = true)
      assert(sym.length <= all.length)
      // V-O (111) surfaces here are polar: no termination reads the
      // same from both faces (why the reference must REPAIR, not
      // filter, under symmetrize=True)
      assert(sym.isEmpty, s"$id: unexpectedly symmetric terminations")
    }
  }

  test("golden: symmetrize repair reproduces the reference slab counts AND composition") {
    // reference: `get_slabs(symmetrize=True)` produced 7 slab files
    // for mp-755394-111 and 3 for mp-1393040-111, and the checked-in
    // repaired slab mp-755394-111-3.poscar is NONSTOICHIOMETRIC —
    // V10 O20 (30 atoms) eroded from a V12 O24 stack (its own POSCAR
    // header). The repair must land on both observables.
    val counts = Map("mp-755394" -> 7, "mp-1393040" -> 3)
    counts.foreach { case (id, expected) =>
      val slabs = SlabGen.cutSymmetrized(readSlab(s"$id.poscar"), "111")
      assert(slabs.length == expected,
        s"$id-111: got ${slabs.length} symmetrized slabs, reference produced $expected")
      assert(slabs.map(_.mpKey) == (0 until expected).map(i => s"$id-111-$i"))
    }
    // the reference header repeats species groups (V O V O V O /
    // 2 4 4 8 4 8) — sum per species: V -> 10, O -> 20
    val ref = readSlab("mp-755394-111-3.poscar")
    val refComp = ref.species.zip(ref.counts)
      .groupMapReduce(_._1)(_._2)(_ + _)
    val got = SlabGen.cutSymmetrized(readSlab("mp-755394.poscar"), "111")
    assert(got.exists(s => s.species.zip(s.counts).toMap == refComp),
      s"no repaired slab matches the reference composition $refComp: " +
        got.map(s => s.species.zip(s.counts).toMap).mkString(", "))
  }

  test("symmetrized slabs are two-faced symmetric and keep atom bookkeeping") {
    for (id <- Seq("mp-755394", "mp-1393040")) {
      val slabs = SlabGen.cutSymmetrized(readSlab(s"$id.poscar"), "111")
      slabs.foreach { s =>
        val f = SlabGen.slabFrame(s.lattice, s.scale)
        assert(SlabGen.isSymmetricSlab(s.positions, f), s"${s.mpKey} not symmetric")
        assert(s.positions.length == s.counts.sum)
        assert(s.counts.forall(_ > 0), s"zero-count species in ${s.mpKey} header")
        val grouped = s.species.lazyZip(s.counts).flatMap((sp, n) => Seq.fill(n)(sp))
        assert(s.positions.map(_.element) == grouped,
          s"${s.mpKey}: positions not grouped by species header order")
      }
      // repairs are genuinely distinct surfaces (the dedup relation)
      for (i <- slabs.indices; j <- slabs.indices if i < j) {
        val f = SlabGen.slabFrame(slabs(i).lattice, slabs(i).scale)
        assert(!SlabGen.equivalentSlabs(slabs(i).positions, slabs(j).positions, f),
          s"${slabs(i).mpKey} and ${slabs(j).mpKey} are duplicates")
      }
    }
  }

  test("symmetry matcher only probes metric-preserving in-plane maps") {
    // rectangular cell |a| = 3, |b| = 5: x<->y swap permutes fractional
    // coords but is NOT an isometry — it must not be probed, so a pair
    // related only by swap+flip stays ASYMMETRIC
    val rect = Seq(Seq(3.0, 0.0, 0.0), Seq(0.0, 5.0, 0.0), Seq(0.0, 0.0, 40.0))
    val fRect = SlabGen.slabFrame(rect, 1.0)
    assert(!fRect.transforms.contains((0, 1, 1, 0)),
      s"swap admitted on a rectangular cell: ${fRect.transforms}")
    assert(fRect.transforms.contains((1, 0, 0, 1)) &&
      fRect.transforms.contains((-1, 0, 0, -1)))
    // four atoms symmetric ONLY under swap+flip (any 2-point set is
    // centrosymmetric, and inversion is an isometry on EVERY lattice
    // — the probe set must break it)
    val quad = Seq(
      Schemas.Atom(0.1, 0.3, 0.1, "V"), Schemas.Atom(0.3, 0.1, 0.9, "V"),
      Schemas.Atom(0.2, 0.6, 0.3, "V"), Schemas.Atom(0.6, 0.2, 0.7, "V"))
    assert(!SlabGen.isSymmetricSlab(quad, fRect),
      "swap-related faces on a rectangular cell reported symmetric")
    // on a SQUARE cell the same set genuinely is swap+flip symmetric
    val square = Seq(Seq(4.0, 0.0, 0.0), Seq(0.0, 4.0, 0.0), Seq(0.0, 0.0, 40.0))
    val fSquare = SlabGen.slabFrame(square, 1.0)
    assert(fSquare.transforms.contains((0, 1, 1, 0)))
    assert(SlabGen.isSymmetricSlab(quad, fSquare))
  }

  test("symmetrize repair erodes polar stacks nonstoichiometrically, never grows them") {
    val bulk = readSlab("mp-755394.poscar")
    val raw = SlabGen.cutTerminations(bulk, "111")
    val stackAtoms = raw.head.positions.length // 36: every raw stack equal
    val slabs = SlabGen.cutSymmetrized(bulk, "111")
    assert(slabs.forall(_.positions.length <= stackAtoms))
    // the polar V-O fixture NEEDS repair: at least one slab lost atoms
    assert(slabs.exists(_.positions.length < stackAtoms),
      "no slab was eroded — repair did nothing on a polar surface")
  }

  // ---- distributed fan-outs: each must equal the driver-side flatMap
  // of its per-bulk cut, whatever the partitioning ----

  private lazy val fanOutBulks = Seq("mp-755394", "mp-1393040").map(id => readSlab(s"$id.poscar"))
  private val fanOutFacets = Seq("111", "100")

  private def onExecutors(f: Dataset[Schemas.Slab] => Dataset[Schemas.Slab]): Seq[Schemas.Slab] = {
    import spark.implicits._
    f(fanOutBulks.toDS().repartition(2)).collect().toSeq.sortBy(_.mpKey)
  }

  test("generateTerminations equals the driver-side flatMap of cutTerminations") {
    for (sym <- Seq(false, true)) {
      val want = fanOutBulks.flatMap(b =>
        fanOutFacets.flatMap(f => SlabGen.cutTerminations(b, f, sym))).sortBy(_.mpKey)
      if (!sym) assert(want.nonEmpty, "the fixtures must yield terminations")
      assert(onExecutors(SlabGen.generateTerminations(_, fanOutFacets, sym)) == want,
        s"symmetricOnly=$sym")
    }
  }

  test("generateSymmetrized equals the driver-side flatMap of cutSymmetrized") {
    val want = fanOutBulks.flatMap(b =>
      fanOutFacets.flatMap(f => SlabGen.cutSymmetrized(b, f))).sortBy(_.mpKey)
    assert(want.nonEmpty)
    assert(onExecutors(SlabGen.generateSymmetrized(_, fanOutFacets)) == want)
  }

  // ---- primitiveReduce (the reference's primitive=True flag) ----

  test("primitiveReduce is an identity on the already-primitive reference fixtures") {
    for (f <- Seq("mp-755394.poscar", "mp-1393040.poscar")) {
      val bulk = readSlab(f)
      val red = SlabGen.primitiveReduce(bulk)
      assert(red.positions.size == bulk.positions.size, s"$f collapsed")
      assert(red.counts == bulk.counts && red.lattice == bulk.lattice)
    }
  }

  test("primitiveReduce collapses a 2x1x1 supercell back to one atom") {
    val sup = Schemas.Slab("sup", "t", 1.0,
      Seq(Seq(2.0, 0, 0), Seq(0, 1.0, 0), Seq(0, 0, 1.0)),
      Seq("Cu"), Seq(2),
      Seq(Schemas.Atom(0, 0, 0, "Cu"), Schemas.Atom(0.5, 0, 0, "Cu")), Seq.empty)
    val red = SlabGen.primitiveReduce(sup)
    assert(red.positions.size == 1 && red.counts == Seq(1))
    // volume halves: |det| of the scaled lattice
    def vol(l: Seq[Seq[Double]]) = math.abs(
      l(0)(0) * (l(1)(1) * l(2)(2) - l(1)(2) * l(2)(1)) -
      l(0)(1) * (l(1)(0) * l(2)(2) - l(1)(2) * l(2)(0)) +
      l(0)(2) * (l(1)(0) * l(2)(1) - l(1)(1) * l(2)(0)))
    assert(math.abs(vol(red.lattice) - 1.0) < 1e-9, s"volume ${vol(red.lattice)}")
  }

  test("primitiveReduce finds the bcc primitive cell from the conventional one") {
    val bcc = Schemas.Slab("bcc", "t", 1.0,
      Seq(Seq(1.0, 0, 0), Seq(0, 1.0, 0), Seq(0, 0, 1.0)),
      Seq("Fe"), Seq(2),
      Seq(Schemas.Atom(0, 0, 0, "Fe"), Schemas.Atom(0.5, 0.5, 0.5, "Fe")), Seq.empty)
    val red = SlabGen.primitiveReduce(bcc)
    assert(red.positions.size == 1 && red.counts == Seq(1))
  }

  test("primitiveReduce collapses a 2x2x1 two-species supercell, keeping stoichiometry") {
    // rock-salt-ish 2-atom basis, replicated 2x2 in-plane: 8 atoms -> 2
    val atoms = for {
      i <- Seq(0, 1); j <- Seq(0, 1)
      a <- Seq(Schemas.Atom((i + 0.0) / 2, (j + 0.0) / 2, 0.0, "Na"),
               Schemas.Atom((i + 0.5) / 2, (j + 0.5) / 2, 0.5, "Cl"))
    } yield a
    val sup = Schemas.Slab("nacl", "t", 1.0,
      Seq(Seq(2.0, 0, 0), Seq(0, 2.0, 0), Seq(0, 0, 1.0)),
      Seq("Na", "Cl"), Seq(4, 4),
      atoms.sortBy(_.element).reverse, Seq.empty)
    val red = SlabGen.primitiveReduce(sup)
    assert(red.positions.size == 2, s"got ${red.positions.size} atoms")
    assert(red.counts == Seq(1, 1), s"counts ${red.counts}")
    // species header order preserved
    assert(red.species == Seq("Na", "Cl"))
  }

  test("repeated-group species headers (V O V O form) survive cut and primitiveReduce") {
    // a legal VASP header may list a species in several groups — the
    // run-length form cutSymmetrized itself emits. zipWithIndex.toMap
    // grouping kept each symbol's LAST index, so generated slabs
    // interleaved the blocks the header promised (silent element
    // mislabeling on re-parse), and primitiveReduce's per-entry
    // count-all rebuild double-counted and threw on reducible input.
    def blocksMatch(s: Schemas.Slab): Unit = {
      assert(s.counts.sum == s.positions.size, s"${s.mpKey}: counts/positions")
      val expected = s.species.zip(s.counts).flatMap { case (e, n) => Seq.fill(n)(e) }
      assert(s.positions.map(_.element) == expected,
        s"${s.mpKey}: position grouping does not match the species header blocks")
    }
    // rock-salt 2x2x1 supercell, atoms grouped per the duplicated header
    def blockAtoms(e: String, z: Double, off: Double) = for {
      i <- Seq(0, 1); j <- Seq(0, 1)
    } yield Schemas.Atom((i + off) / 2, (j + off) / 2, z, e)
    val dup = Schemas.Slab("dup", "t", 1.0,
      Seq(Seq(2.0, 0, 0), Seq(0, 2.0, 0), Seq(0, 0, 1.0)),
      Seq("Na", "Cl", "Na", "Cl"), Seq(2, 2, 2, 2),
      blockAtoms("Na", 0.0, 0.0).take(2) ++ blockAtoms("Cl", 0.5, 0.5).take(2) ++
        blockAtoms("Na", 0.0, 0.0).drop(2) ++ blockAtoms("Cl", 0.5, 0.5).drop(2),
      Seq.empty)
    // primitiveReduce: must reduce (not throw), normalized header
    val red = SlabGen.primitiveReduce(dup)
    assert(red.positions.size == 2 && red.species == Seq("Na", "Cl") &&
      red.counts == Seq(1, 1), s"${red.species}/${red.counts}/${red.positions.size}")
    blocksMatch(red)
    // cut: every generated slab's grouping must match its header, and
    // equal the slab cut from the equivalent unique-header bulk
    val uniq = dup.copy(species = Seq("Na", "Cl"), counts = Seq(4, 4),
      positions = blockAtoms("Na", 0.0, 0.0) ++ blockAtoms("Cl", 0.5, 0.5))
    for (primitive <- Seq(true, false)) {
      val a = SlabGen.cut(dup, "100", nShifts = 2, primitive = primitive)
      val b = SlabGen.cut(uniq, "100", nShifts = 2, primitive = primitive)
      a.foreach(blocksMatch)
      assert(a.map(s => (s.species, s.counts, s.positions)) ==
        b.map(s => (s.species, s.counts, s.positions)),
        "duplicated-header bulk must cut identically to its unique-header twin")
    }
  }

  test("cut(primitive=true) reduces the GENERATED slab in-plane (pymatgen semantics)") {
    // pymatgen's primitive=True reduces the slab AFTER cutting on the
    // input cell's Miller basis — reduction is therefore IN-PLANE
    // only (vacuum breaks any stacking-direction translation). An
    // in-plane supercell must collapse to the primitive slab; a
    // stacking-direction supercell legitimately keeps its repeats
    // (they are extra layers, exactly what pymatgen produces).
    val prim = Schemas.Slab("p", "t", 1.0,
      Seq(Seq(1.0, 0, 0), Seq(0, 1.0, 0), Seq(0, 0, 1.0)),
      Seq("Cu"), Seq(1), Seq(Schemas.Atom(0, 0, 0, "Cu")), Seq.empty)
    // 1×3×1 supercell: the tripled b axis lies IN-PLANE for facet 100
    val supInPlane = Schemas.Slab("s", "t", 1.0,
      Seq(Seq(1.0, 0, 0), Seq(0, 3.0, 0), Seq(0, 0, 1.0)),
      Seq("Cu"), Seq(3),
      Seq(Schemas.Atom(0, 0, 0, "Cu"), Schemas.Atom(0, 1.0 / 3, 0, "Cu"),
          Schemas.Atom(0, 2.0 / 3, 0, "Cu")), Seq.empty)
    val a = SlabGen.cut(prim, "100", nShifts = 1).head
    val b = SlabGen.cut(supInPlane, "100", nShifts = 1).head // primitive=true default
    val c = SlabGen.cut(supInPlane, "100", nShifts = 1, primitive = false).head
    assert(a.positions.size == b.positions.size,
      s"in-plane supercell must reduce to the primitive slab: ${b.positions.size} vs ${a.positions.size}")
    assert(c.positions.size == 3 * a.positions.size, "unreduced supercell keeps 3 cells")
    // 3×1×1 supercell: the tripled a axis IS the 100 stacking
    // direction — its repeats become layers, which vacuum pins
    val supStack = Schemas.Slab("s2", "t", 1.0,
      Seq(Seq(3.0, 0, 0), Seq(0, 1.0, 0), Seq(0, 0, 1.0)),
      Seq("Cu"), Seq(3),
      Seq(Schemas.Atom(0, 0, 0, "Cu"), Schemas.Atom(1.0 / 3, 0, 0, "Cu"),
          Schemas.Atom(2.0 / 3, 0, 0, "Cu")), Seq.empty)
    val d = SlabGen.cut(supStack, "100", nShifts = 1).head
    assert(d.positions.size == 3 * a.positions.size,
      "stacking-direction repeats are layers, not reducible translations")
  }
}
