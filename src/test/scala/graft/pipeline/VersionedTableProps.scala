package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec

/** Model-based randomized gate for the manifest machinery: random
  * commit sequences (full write / incremental append / rollback /
  * truncate / expire — and, in the tagged variant, create_tag/drop_tag
  * with tag-guarded expiry) run against BOTH the real [[VersionedTable]]
  * and a trivial in-memory model (version -> multiset of rows), and
  * every retained snapshot must read back exactly the model's content
  * after every step. This is the adversarial complement to the
  * example-based specs: `dirs=` list resolution, redirect handling,
  * expiry reference-counting, declared-schema empty reads, and (r14)
  * the CREATE commit protocol's claim/publish machinery have to hold
  * under ARBITRARY interleavings, not just the hand-picked ones.
  * Seeds are fixed so a failure replays deterministically. */
class VersionedTableProps extends SparkSpec {
  import spark.implicits._

  private def readBack(table: String, v: Option[Long]): Seq[Long] =
    VersionedTable.read(spark, table, v)
      .collect().map(_.getLong(0)).sorted.toSeq

  /** One randomized sequence against the model. `withTags` adds
    * create_tag/drop_tag ops and the tag-guarded expiry contract. */
  private def runModel(seed: Long, steps: Int,
      withTags: Boolean): Unit = {
    val rnd = new scala.util.Random(seed)
    val table =
      Files.createTempDirectory(s"graft_vtp_$seed").toString + "/t"
    // declared schema: truncate/empty-append stay readable
    VersionedTable.create(table,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING"))
    // model: retained version -> sorted row keys; tag name -> version
    var model = Map.empty[Long, Seq[Long]]
    var tags = Map.empty[String, Long]
    var nextKey = 0L
    var nextTag = 0
    def freshRows(n: Int): Seq[Long] = {
      val r = (0 until n).map(i => nextKey + i)
      nextKey += n
      r
    }
    def df(rows: Seq[Long]) =
      rows.map(k => (k, s"r$k")).toDF("k", "v")

    (1 to steps).foreach { step =>
      val current: Seq[Long] =
        model.maxByOption(_._1).map(_._2).getOrElse(Seq.empty)
      rnd.nextInt(if (withTags) 7 else 5) match {
        case 0 => // full write
          val rows = freshRows(1 + rnd.nextInt(3))
          val v = VersionedTable.write(df(rows), table)
          model += (v -> rows.sorted)
        case 1 => // incremental append (content = prev + new)
          val rows = freshRows(1 + rnd.nextInt(3))
          val v = VersionedTable.append(df(rows), table)
          model += (v -> (current ++ rows).sorted)
        case 2 if model.nonEmpty => // rollback to a random retained v
          val target =
            model.keys.toSeq.sorted.apply(rnd.nextInt(model.size))
          val v = VersionedTable.rollback(table, target)
          model += (v -> model(target))
        case 3 if model.nonEmpty => // truncate (empty snapshot)
          val v = VersionedTable.truncate(spark, table)
          model += (v -> Seq.empty)
        case 4 if model.size > 2 => // expire, always keep >= 1
          val keep = 1 + rnd.nextInt(model.size)
          VersionedTable.expire(table, keepLast = keep)
          // tagged versions are expiry-proof (r14)
          val kept = model.keys.toSeq.sorted.takeRight(keep).toSet ++
            tags.values
          model = model.filter { case (v, _) => kept(v) }
        case 5 if model.nonEmpty => // create_tag on a random retained v
          val target =
            model.keys.toSeq.sorted.apply(rnd.nextInt(model.size))
          val name = s"t$nextTag"; nextTag += 1
          VersionedTable.createTag(table, name, Some(target))
          tags += (name -> target)
        case 6 if tags.nonEmpty => // drop a random tag
          val name = tags.keys.toSeq.sorted.apply(rnd.nextInt(tags.size))
          VersionedTable.dropTag(table, name)
          tags -= name
        case _ => () // op not applicable yet
      }
      // the REAL table must agree with the model everywhere
      assert(VersionedTable.versions(table) == model.keys.toSeq.sorted,
        s"seed=$seed step=$step retained versions diverged")
      model.foreach { case (v, rows) =>
        assert(readBack(table, Some(v)) == rows,
          s"seed=$seed step=$step version $v content diverged")
      }
      if (model.nonEmpty)
        assert(readBack(table, None) == model.maxBy(_._1)._2,
          s"seed=$seed step=$step current content diverged")
      if (withTags)
        assert(VersionedTable.tags(table) == tags,
          s"seed=$seed step=$step tags diverged")
    }
  }

  /** The branch variant (r15; +per-branch retention r16): random fork /
    * branch-append / branch-write / fast_forward / drop /
    * expire_branch_snapshots ops mixed into the main sequence, with
    * the model tracking each branch's fork base and committed head. Pins the r15 invariants under arbitrary
    * interleavings: global version allocation across lines (the
    * returned version numbers ARE the model keys), uncommitted-branch
    * fork bases expiry-proof, committed branches readable after their
    * base manifest expired (data dirs branch-live), fast_forward
    * publishing by reference exactly when main sits at the fork base
    * and refusing loudly otherwise. */
  private def runBranchModel(seed: Long, steps: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val table =
      Files.createTempDirectory(s"graft_vtpb_$seed").toString + "/t"
    VersionedTable.create(table,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING"))
    var model = Map.empty[Long, Seq[Long]]
    // branch -> (fork base version, committed head rows if any)
    var branches = Map.empty[String, (Long, Option[Seq[Long]])]
    var nextKey = 0L
    var nextBr = 0
    def freshRows(n: Int): Seq[Long] = {
      val r = (0 until n).map(i => nextKey + i); nextKey += n; r
    }
    def df(rows: Seq[Long]) = rows.map(k => (k, s"r$k")).toDF("k", "v")
    def pick(): String =
      branches.keys.toSeq.sorted.apply(rnd.nextInt(branches.size))
    def branchRows(name: String): Seq[Long] = {
      val (base, head) = branches(name)
      head.getOrElse(model(base))
    }
    (1 to steps).foreach { step =>
      val current: Seq[Long] =
        model.maxByOption(_._1).map(_._2).getOrElse(Seq.empty)
      rnd.nextInt(11) match {
        case 0 =>
          val rows = freshRows(1 + rnd.nextInt(3))
          val v = VersionedTable.write(df(rows), table)
          model += (v -> rows.sorted)
        case 1 =>
          val rows = freshRows(1 + rnd.nextInt(3))
          val v = VersionedTable.append(df(rows), table)
          model += (v -> (current ++ rows).sorted)
        case 2 if model.nonEmpty =>
          val target =
            model.keys.toSeq.sorted.apply(rnd.nextInt(model.size))
          val v = VersionedTable.rollback(table, target)
          model += (v -> model(target))
        case 3 if model.nonEmpty =>
          val v = VersionedTable.truncate(spark, table)
          model += (v -> Seq.empty)
        case 4 if model.size > 2 =>
          val keep = 1 + rnd.nextInt(model.size)
          VersionedTable.expire(table, keepLast = keep)
          // r15: an UNCOMMITTED branch pins its fork base
          val pinned =
            branches.collect { case (_, (base, None)) => base }.toSet
          val kept = model.keys.toSeq.sorted.takeRight(keep).toSet ++ pinned
          model = model.filter { case (v, _) => kept(v) }
        case 5 if model.nonEmpty => // fork at the current snapshot
          val name = s"b$nextBr"; nextBr += 1
          val base = VersionedTable.createBranch(table, name)
          assert(base == model.keys.max,
            s"seed=$seed step=$step fork base diverged")
          branches += (name -> (base, None))
        case 6 if branches.nonEmpty => // stage an append on a branch
          val name = pick()
          val prior = branchRows(name)
          val rows = freshRows(1 + rnd.nextInt(3))
          VersionedTable.appendToBranch(df(rows), table, name)
          branches += (name -> (branches(name)._1,
            Some((prior ++ rows).sorted)))
        case 7 if branches.nonEmpty => // replace a branch wholesale
          val name = pick()
          val rows = freshRows(1 + rnd.nextInt(3))
          VersionedTable.writeToBranch(df(rows), table, name)
          branches += (name -> (branches(name)._1, Some(rows.sorted)))
        case 8 if branches.nonEmpty => // publish — or the loud refusal
          val name = pick()
          val (base, head) = branches(name)
          if (head.isDefined && model.keys.max == base) {
            val v = VersionedTable.fastForward(table, name)
            model += (v -> head.get)
          } else {
            val e = intercept[IllegalArgumentException] {
              VersionedTable.fastForward(table, name)
            }
            assert(e.getMessage.contains("diverged") ||
              e.getMessage.contains("nothing to publish"),
              s"seed=$seed step=$step wrong refusal: ${e.getMessage}")
          }
        case 9 if branches.nonEmpty =>
          val name = pick()
          VersionedTable.dropBranch(table, name)
          branches -= name
        case 10 if branches.nonEmpty => // per-branch retention (r16)
          // model-INVISIBLE by contract: the head (and so the branch's
          // readable content), the fork-base record, main's versions,
          // and the branch set must all be unchanged — the post-step
          // asserts prove it against arbitrary prior stage/publish
          // interleavings, incl. that no data dir a retained manifest
          // (main's, another branch's, this head's) references was
          // reclaimed out from under it
          VersionedTable.expireBranchSnapshots(table, pick(),
            keepLast = 1 + rnd.nextInt(3))
        case _ => ()
      }
      assert(VersionedTable.versions(table) == model.keys.toSeq.sorted,
        s"seed=$seed step=$step retained versions diverged")
      model.foreach { case (v, rows) =>
        assert(readBack(table, Some(v)) == rows,
          s"seed=$seed step=$step version $v content diverged")
      }
      if (model.nonEmpty)
        assert(readBack(table, None) == model.maxBy(_._1)._2,
          s"seed=$seed step=$step current content diverged")
      assert(VersionedTable.branches(table).keySet == branches.keySet,
        s"seed=$seed step=$step branch set diverged")
      branches.keys.foreach { b =>
        assert(VersionedTable.readBranch(spark, table, b).collect()
          .map(_.getLong(0)).sorted.toSeq == branchRows(b),
          s"seed=$seed step=$step branch $b content diverged")
      }
    }
  }

  test("random write/append/rollback/truncate/expire sequences match " +
      "the in-memory model on every retained snapshot") {
    Seq(1L, 7L, 42L).foreach(runModel(_, steps = 30, withTags = false))
  }

  test("with BRANCH ops mixed in (r15): fork/stage/publish/drop and " +
      "base-pinned expiry match the model at every step") {
    Seq(5L, 13L).foreach(runBranchModel(_, steps = 40))
  }

  test("with tag ops mixed in: tag-guarded expiry and tag resolution " +
      "match the model at every step") {
    Seq(3L, 11L).foreach(runModel(_, steps = 30, withTags = true))
  }
}
